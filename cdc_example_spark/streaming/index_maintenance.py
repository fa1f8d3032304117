"""CDC → ANN retrain loop: versioned IVF2 layouts behind an atomic
pointer, health-monitored and rebuilt under a live changelog (VERDICT
r11 item 3 — the production cadence q116's ``retrain_due`` exists for).

``streaming/ann_freshness.py`` keeps ONE ``build_ivf2_index`` layout
fresh under CDC, and ``operators/index_health.py`` watches that
layout's per-cell occupancy drift — but nothing executed the flag:
drift detected → centroids refined → index rebuilt → serving swapped,
all while the changelog keeps applying. ``build_ivf2_index`` itself
names the missing piece ("versioned paths + pointer flip under
concurrent readers"); this module is that piece.

Layout on disk (the KeyedStateSink atomic-swap discipline — data and
meta committed together, reads inside the swap window see pre-swap
state; reference anchor: the resize-swap semantics in
``operators/keyed_state.py``)::

    root/
      _current                    <- version NAME, written via os.replace
      versions/<name>/            <- one complete serving layout
        coarse=X/fine=Y/*.parquet   (build_ivf2_index files)
        _layout_meta.json           (centroids + training-era occupancy)
        _applied_batch_id           (ann_freshness exactly-once marker)
        _flipped                    (flip-order counter; present iff the
                                     version ever served — absent means
                                     crash orphan / rebuild in flight)

Every version directory is SELF-CONTAINED: its centroids, its
reference occupancy (the "training era" the monitor compares against),
and its CDC high-water marker all live inside it, fully written BEFORE
the one-word pointer flip makes it current. A reader resolves the
pointer once and reads exactly one version — serving can never mix
old and new layouts; a reader that resolved pre-swap keeps serving the
retained old version's consistent files.

Per micro-batch (``materialize_with_monitored_index``):

1. resolve the current version;
2. merge the batch with :func:`ann_freshness.ivf2_apply_cdc`
   (per-version marker → redelivery no-ops);
3. monitor: current occupancy (grouped count(*) answered from parquet
   FOOTERS — no data column read, cell-bounded collect) vs the
   version's persisted reference counts, through the SAME PSI core
   q116 runs (``occupancy_psi_from_counts``);
4. if ``psi_total`` clears the threshold: refine the coarse centroids
   with the full-corpus Lloyd exchange (``lloyd_refine``'s contract —
   parity-pinned in tests), retrain the fines under them (the
   ``train_ivf2_local`` level-2 discipline — parity-pinned), rebuild
   into a NEW version directory named by the triggering batch (a name
   that can never collide with a version that ever served —
   ``_choose_version_name``), write its meta + marker, and flip the
   pointer;
5. retention sweep (:func:`gc_versions`, VERDICT r12 item 2): flipped
   versions beyond the last ``retain`` (default 2: current + its
   immediate predecessor, the pre-swap-reader grace) are deleted —
   staged through an atomic rename to ``<name>.deleting`` first, so a
   crash anywhere inside the sweep converges (whole dirs re-evaluate,
   staged dirs are unconditionally reclaimed next sweep) — bounding a
   drifting stream's disk footprint at ``retain`` full layouts
   instead of one per retrain.

Crash/redelivery across the swap (the materialize_tables composition
argument): the flip is the single commit point. Crash BEFORE it →
pointer still names the old version; the redelivered batch no-ops on
the old version's marker, the monitor still flags, and the rebuild
re-runs into the SAME deterministic directory name (leftovers are
cleared first). Crash AFTER it → the new version's marker equals the
triggering batch id, the redelivered batch no-ops, the monitor reads
~0 drift against the fresh reference, and no second retrain fires.
Either way the system converges to the identical layout.

Scale shape: the per-batch monitor is footer-priced — a grouped
count(*) over partition columns that parquet answers from row-group
metadata, never touching a data column (q116's cost argument,
VERDICT r12 item 3). The rebuild is the one corpus-sized step and runs ONLY
when flagged — exactly the cadence an offline nightly rebuild pays,
now triggered by measured drift instead of a clock, and the corpus it
re-reads is the index itself (no second table of record scan).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_example_spark.operators.index_health import (
    PSI_RETRAIN_THRESHOLD,
    footer_cell_counts,
    occupancy_psi_from_counts,
)
from cdc_example_spark.operators.keyed_state import KeyedStateSink
from cdc_example_spark.operators.similarity import (
    _as_double,
    assign_cells_vectorized,
    build_ivf2_index,
    ivf2_topk_indexed,
    train_ivf2_local,
)
from cdc_example_spark.session import local_frame
from cdc_example_spark.streaming.ann_freshness import (
    _record_index_batch_id,
    ivf2_apply_cdc,
)
from cdc_example_spark.streaming.envelope import decode_envelope, route_changes

_POINTER = "_current"
_VERSIONS = "versions"
_META = "_layout_meta.json"
_FLIPPED = "_flipped"  # flip-order counter; present iff the dir ever served
_DELETING_SUFFIX = ".deleting"  # gc staging: renamed-then-rmtree'd victims


# ---------------------------------------------------------------- layout


def current_version(root: str) -> "str | None":
    """The serving version's name, or None before bootstrap."""
    try:
        with open(os.path.join(root, _POINTER)) as f:
            return f.read().strip() or None
    except OSError:
        return None


def version_dir(root: str, name: str) -> str:
    return os.path.join(root, _VERSIONS, name)


def _set_current(root: str, name: str) -> None:
    """THE commit point: one os.replace makes a fully-written version
    directory the serving one (atomic on POSIX rename semantics)."""
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(name)
    os.replace(tmp, os.path.join(root, _POINTER))


def _flip_counter(vdir: str) -> "int | None":
    """The directory's position in flip order, or None if it NEVER
    became current (a crash-before-flip orphan, or a rebuild still in
    flight). This is the distinction every destructive path needs: a
    version that ever served may still have pre-swap readers; an
    unflipped directory cannot."""
    try:
        with open(os.path.join(vdir, _FLIPPED)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _mark_flipped(root: str, vdir: str) -> None:
    """Stamp a just-flipped version with the next flip counter (max
    existing + 1 — monotone even across the heal path, because the
    healed current dir is by definition the latest flip). Written
    atomically AFTER the pointer flip; a crash in between is healed by
    the next ``maintain_versioned_index`` call on the same version."""
    vroot = os.path.join(root, _VERSIONS)
    highest = 0
    try:
        for d in os.listdir(vroot):
            c = _flip_counter(os.path.join(vroot, d))
            if c is not None and c > highest:
                highest = c
    except OSError:
        pass
    tmp = os.path.join(vdir, _FLIPPED + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(highest + 1))
    os.replace(tmp, os.path.join(vdir, _FLIPPED))


def _choose_version_name(root: str, base: str) -> str:
    """A rebuild target that can never destroy serving data (ADVICE
    r12, medium): the deterministic base name collides with the CURRENT
    version when a redelivered batch re-flags after its own flip (or on
    any second ``manual`` retrain) — rmtree'ing that directory would
    tear down the live layout under the pointer. Walk ``base``,
    ``baser2``, ``baser3``, … and return the first candidate that is
    neither current nor a flipped (ever-served) directory: either it
    does not exist, or it is an UNFLIPPED crash-before-flip orphan,
    which the rebuild may clear and reuse. The walk is deterministic in
    the directory state, so crash/redelivery still converges on the
    same name."""
    cur = current_version(root)
    cand, k = base, 1
    while True:
        d = version_dir(root, cand)
        if cand != cur and (
            not os.path.isdir(d) or _flip_counter(d) is None
        ):
            return cand
        k += 1
        cand = f"{base}r{k}"


def gc_versions(root: str, retain: int = 2) -> "list[str]":
    """Keep-last-N retention of superseded versions (VERDICT r12 item
    2 — the retrain loop's missing operational half: without a sweep,
    ``versions/`` grows one full index copy per retrain, unbounded).

    Deletes FLIPPED directories (ever-served, by flip counter) beyond
    the ``retain`` most recent, never the current version. The default
    ``retain=2`` keeps current + its immediate predecessor — the
    pre-swap-reader grace the swap discipline promises (a reader that
    resolved the pointer just before a flip is still reading the
    predecessor's files). Unflipped directories are never touched:
    they are either a rebuild in flight or a crash orphan that the
    redelivery rebuild reclaims by name.

    Idempotent across crashes by STAGING: each victim is first
    ``os.rename``d (atomic) to ``<name>.deleting``, then rmtree'd, and
    every sweep starts by clearing any ``*.deleting`` leftovers. A
    crash at ANY point therefore converges: before the rename the
    directory is whole and re-evaluated next sweep; after it, the
    staged name is unconditionally garbage regardless of how much of
    the rmtree ran — which closes the ordering hole where rmtree
    deleted the ``_flipped`` marker before the data files and left an
    unflipped (hence never-again-sweepable) partial layout behind.
    """
    if retain < 1:
        raise ValueError(f"gc_versions: retain must be >= 1, got {retain}")
    cur = current_version(root)
    vroot = os.path.join(root, _VERSIONS)
    try:
        entries = os.listdir(vroot)
    except OSError:
        return []
    for d in entries:
        if d.endswith(_DELETING_SUFFIX):
            shutil.rmtree(os.path.join(vroot, d), ignore_errors=True)
    flipped = []
    for d in entries:
        p = os.path.join(vroot, d)
        if not d.endswith(_DELETING_SUFFIX) and os.path.isdir(p):
            c = _flip_counter(p)
            if c is not None:
                flipped.append((c, d))
    flipped.sort(reverse=True)
    keep = {d for _, d in flipped[:retain]}
    if cur:
        keep.add(cur)
    removed = []
    for _, d in flipped:
        if d not in keep:
            p = os.path.join(vroot, d)
            staged = p + _DELETING_SUFFIX
            try:
                os.rename(p, staged)
            except OSError:
                # raced with a concurrent reclaim, or a prior staged
                # remnant still holds the name — the next sweep retries
                continue
            shutil.rmtree(staged, ignore_errors=True)
            removed.append(d)
    return sorted(removed)


def read_layout_meta(vdir: str) -> dict:
    with open(os.path.join(vdir, _META)) as f:
        return json.load(f)


def _write_layout_meta(
    vdir: str,
    coarse: "list[list[float]]",
    fines: "list[list[list[float]]]",
    n_fine: int,
    ref_counts: "list[list[int]]",
) -> None:
    tmp = os.path.join(vdir, _META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "coarse": coarse,
                "fines": fines,
                "n_fine": n_fine,
                "ref_counts": ref_counts,
            },
            f,
        )
    os.replace(tmp, os.path.join(vdir, _META))


def _cell_counts(spark, vdir: str) -> "list[list[int]]":
    """Exact per-cell occupancy of a layout, answered from parquet
    FOOTERS — grouped count(*) over partition columns reads no data
    column at all (VERDICT r12 item 3: the former ``count("vec_id")``
    forced reading the id column from every file); the collect stays
    cell-bounded."""
    return footer_cell_counts(spark, vdir)


def init_versioned_ivf2(
    vectors: DataFrame,
    n_coarse: int,
    n_fine: int,
    root: str,
    name: str = "bootstrap",
    sample_size: int = 8192,
    n_iters: int = 10,
    seed: int = 0x5EED,
) -> "tuple[str, list[list[float]], list[list[list[float]]]]":
    """Train + build the first version and point ``_current`` at it."""
    coarse, fines = train_ivf2_local(
        vectors, n_coarse, n_fine, sample_size=sample_size,
        n_iters=n_iters, seed=seed,
    )
    vdir = version_dir(root, name)
    build_ivf2_index(vectors, coarse, fines, vdir)
    _write_layout_meta(
        vdir, coarse, fines, n_fine, _cell_counts(vectors.sparkSession, vdir)
    )
    _set_current(root, name)
    _mark_flipped(root, vdir)
    return vdir, coarse, fines


# ---------------------------------------------------------------- monitor


def versioned_layout_health(
    spark,
    vdir: str,
    meta: dict,
    smoothing: float = 0.5,
    psi_threshold: float = PSI_RETRAIN_THRESHOLD,
) -> DataFrame:
    """q116's monitor against a version's OWN training era: current
    occupancy answered from parquet footers (no data column read —
    VERDICT r12 item 3) vs the reference counts persisted at build
    time, through the same PSI core. Both sides are cell-bounded
    ``LocalRelation``s (``session.local_frame``); the per-batch
    monitor's scan cost is footer reads, full stop."""
    n_coarse = len(meta["coarse"])
    n_fine = int(meta["n_fine"])
    ref = local_frame(spark, meta["ref_counts"], "coarse int, fine int, n_ref long")
    cur = local_frame(
        spark, _cell_counts(spark, vdir), "coarse int, fine int, n_cur long"
    )
    counts = (
        ref.join(cur, ["coarse", "fine"], "full_outer")
        .select(
            "coarse",
            "fine",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .filter((F.col("n_ref") > 0) | (F.col("n_cur") > 0))
    )
    return occupancy_psi_from_counts(
        counts,
        n_coarse,
        n_fine,
        smoothing=smoothing,
        psi_threshold=psi_threshold,
    )


# ---------------------------------------------------------------- retrain


def lloyd_refined_coarse(
    vectors: DataFrame,
    coarse: "list[list[float]]",
    steps: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """Full-corpus coarse refinement — ``lloyd_refine``'s exchange
    (operators/similarity.py), returning the refined CENTROIDS the
    rebuild needs instead of the per-vector assignment audit q100
    emits. Identical discipline per step: BLAS assignment to the
    current centroids, ONE partially-aggregated groupBy with ``dim``
    ``avg`` columns (the shuffle carries k·dim doubles, never a
    vector), unit-norm, and the 6-dp round that makes the refined bits
    engine-deterministic. A cell nothing assigns to is DROPPED —
    retraining exists to retire dead directories — so the result lists
    the surviving cells' refined centroids in original-cid order
    (argmax ties to the lowest cid are preserved by the order-keeping
    remap; parity with ``lloyd_refine``'s cell1 is pinned in
    tests/test_index_maintenance.py). The collect per step is k rows
    of dim doubles — the centroid-collect class every IVF consumer
    uses."""
    cents = [list(map(float, c)) for c in coarse]
    dim = len(cents[0])
    base = _as_double(vectors, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    for _ in range(int(steps)):
        assigned = base.withColumn(
            "cell0", assign_cells_vectorized(cents)("v")
        )
        means = assigned.groupBy("cell0").agg(
            *[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(dim)]
        )
        m = F.array(*[F.col(f"m{i}") for i in range(dim)])
        nrm = F.greatest(
            F.sqrt(
                F.aggregate(
                    F.transform(m, lambda x: x * x),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
            ),
            F.lit(1e-12),
        )
        rows = (
            means.select(
                F.col("cell0").alias("cid"),
                F.transform(m, lambda x: F.round(x / nrm, 6)).alias("cv"),
            )
            .collect()
        )
        cents = [list(map(float, r.cv)) for r in sorted(rows, key=lambda r: r.cid)]
    return cents


def retrain_fines(
    vectors: DataFrame,
    coarse: "list[list[float]]",
    n_fine: int,
    sample_size: int = 8192,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0x5EED,
) -> "list[list[list[float]]]":
    """``train_ivf2_local``'s level-2 under an ALREADY-refined coarse:
    the same deterministic xxhash64-ordered sample, the same per-cell
    D²-seeded spherical k-means with ``seed + 7919·(c+1)``, the same
    empty-cell reseed from the coarse centroid itself — parity with
    the trainer is pinned (lloyd_steps=0 reproduces its fines
    bit-for-bit)."""
    rows = (
        _as_double(vectors, vec_col)
        .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .withColumn("_h", F.xxhash64(F.col("vid")))
        .orderBy("_h", "vid")
        .limit(int(sample_size))
        .collect()
    )
    rows.sort(key=lambda r: r.vid)
    X = np.vstack([r.v for r in rows]).astype(np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C1 = np.asarray(coarse)
    a = (X @ C1.T).argmax(axis=1)

    fines: "list[list[list[float]]]" = []
    for c in range(len(coarse)):
        members = X[a == c]
        if len(members) == 0:
            fines.append([list(map(float, C1[c]))])
            continue
        k = max(1, min(n_fine, len(members)))
        rng = np.random.default_rng(seed + 7919 * (c + 1))
        C2 = np.empty((k, X.shape[1]))
        C2[0] = members[rng.integers(len(members))]
        d = 1.0 - members @ C2[0]
        for j in range(1, k):
            p = np.maximum(d, 0)
            p = (
                p / p.sum()
                if p.sum() > 0
                else np.full(len(members), 1.0 / len(members))
            )
            C2[j] = members[rng.choice(len(members), p=p)]
            d = np.minimum(d, 1.0 - members @ C2[j])
        for _ in range(n_iters):
            sims = members @ C2.T
            aa = sims.argmax(axis=1)
            for j in range(k):
                ms = members[aa == j]
                if len(ms) == 0:
                    C2[j] = members[sims.max(axis=1).argmin()]
                else:
                    mv = ms.sum(axis=0)
                    C2[j] = mv / max(np.linalg.norm(mv), 1e-12)
        fines.append([[float(x) for x in C2[j]] for j in range(k)])
    return fines


def retrain_ivf2(
    vectors: DataFrame,
    coarse: "list[list[float]]",
    n_fine: int,
    lloyd_steps: int = 1,
    sample_size: int = 8192,
    n_iters: int = 10,
    seed: int = 0x5EED,
) -> "tuple[list[list[float]], list[list[list[float]]]]":
    """flag → refine: the retrain cadence's training half."""
    refined = (
        lloyd_refined_coarse(vectors, coarse, steps=lloyd_steps)
        if lloyd_steps > 0
        else [list(map(float, c)) for c in coarse]
    )
    fines = retrain_fines(
        vectors, refined, n_fine,
        sample_size=sample_size, n_iters=n_iters, seed=seed,
    )
    return refined, fines


# ---------------------------------------------------------------- the loop


def maintain_versioned_index(
    decoded: DataFrame,
    root: str,
    batch_id: "int | None" = None,
    vec_field: str = "embedding",
    psi_threshold: float = PSI_RETRAIN_THRESHOLD,
    lloyd_steps: int = 1,
    sample_size: int = 8192,
    n_iters: int = 10,
    seed: int = 0x5EED,
    retain: int = 2,
) -> dict:
    """One micro-batch of the monitored loop: merge → monitor →
    (flag →) refine → rebuild → atomic swap → retention sweep.
    Returns a small report dict (version served, psi_total, whether a
    retrain committed, versions the sweep removed)."""
    spark = decoded.sparkSession
    name = current_version(root)
    if name is None:
        raise ValueError(
            f"maintain_versioned_index: no _current pointer under {root!r} "
            "— bootstrap with init_versioned_ivf2 first"
        )
    vdir = version_dir(root, name)
    if _flip_counter(vdir) is None:
        # heal the crash window between pointer flip and marker write:
        # the CURRENT version is flipped by definition
        _mark_flipped(root, vdir)
    meta = read_layout_meta(vdir)
    touched = ivf2_apply_cdc(
        decoded, meta["coarse"], meta["fines"], vdir,
        vec_field=vec_field, batch_id=batch_id,
    )
    health = versioned_layout_health(
        spark, vdir, meta, psi_threshold=psi_threshold
    )
    h = health.select("psi_total", "retrain_due").first()
    psi_total = float(h.psi_total) if h is not None else 0.0
    retrained = False
    if h is not None and bool(h.retrain_due):
        base = f"b{batch_id:010d}" if batch_id is not None else "manual"
        new_name = _choose_version_name(root, base)
        new_dir = version_dir(root, new_name)
        if os.path.isdir(new_dir):
            # a crash between rebuild and pointer flip left an orphan —
            # the name is deterministic, so clear it and rebuild (the
            # redelivery convergence argument in the module docstring).
            # _choose_version_name only ever hands back an UNFLIPPED,
            # non-current directory, so this rmtree can never touch the
            # serving layout or a retained predecessor (ADVICE r12).
            shutil.rmtree(new_dir)
        # the corpus of record for the rebuild is the index itself —
        # exactly the rows serving reads, post-merge
        corpus = spark.read.parquet(vdir).select(
            "vec_id", F.col("v").alias("embedding")
        )
        coarse2, fines2 = retrain_ivf2(
            corpus, meta["coarse"], int(meta["n_fine"]),
            lloyd_steps=lloyd_steps, sample_size=sample_size,
            n_iters=n_iters, seed=seed,
        )
        build_ivf2_index(corpus, coarse2, fines2, new_dir)
        _write_layout_meta(
            new_dir, coarse2, fines2, int(meta["n_fine"]),
            _cell_counts(spark, new_dir),
        )
        if batch_id is not None:
            _record_index_batch_id(new_dir, batch_id)
        _set_current(root, new_name)  # data+meta in, THEN the flip
        _mark_flipped(root, new_dir)
        name, retrained = new_name, True
    # retention sweep every batch (not only on retrain): flipped
    # versions beyond the last `retain` are reclaimed, current and its
    # immediate predecessor stay for pre-swap readers
    removed = gc_versions(root, retain=retain)
    return {
        "version": name,
        "psi_total": psi_total,
        "retrained": retrained,
        "touched_cells": touched,
        "gc_removed": removed,
    }


def materialize_with_monitored_index(
    raw_stream: DataFrame,
    sink: KeyedStateSink,
    root: str,
    checkpoint_dir: str,
    vec_field: str = "embedding",
    trigger_once: bool = False,
    processing_time: str = "500 milliseconds",
    psi_threshold: float = PSI_RETRAIN_THRESHOLD,
    lloyd_steps: int = 1,
    sample_size: int = 8192,
    n_iters: int = 10,
    seed: int = 0x5EED,
    retain: int = 2,
) -> "object":
    """``materialize_with_index`` with the monitor→retrain loop closed:
    the table of record and the CURRENT index version stay fresh per
    micro-batch, and when drift clears the PSI line the layout is
    retrained, rebuilt, and atomically swapped between batches — the
    changelog never pauses, readers never see a half-built index."""
    decoded = decode_envelope(
        raw_stream, row_schema=sink.schema, key_field=sink.key
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            sink.apply_changes(route_changes(batch_df), batch_id)
            maintain_versioned_index(
                batch_df, root, batch_id=batch_id, vec_field=vec_field,
                psi_threshold=psi_threshold, lloyd_steps=lloyd_steps,
                sample_size=sample_size, n_iters=n_iters, seed=seed,
                retain=retain,
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


def ivf2_topk_versioned(
    spark,
    root: str,
    queries: DataFrame,
    k: int = 5,
    n_probe_coarse: int = 2,
    n_probe_fine: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve from the current version — the pointer is resolved ONCE,
    so one request reads exactly one version's directories even if a
    swap lands mid-flight (pre-swap resolution keeps serving the
    retained old version's consistent files)."""
    name = current_version(root)
    if name is None:
        raise ValueError(f"ivf2_topk_versioned: no _current under {root!r}")
    vdir = version_dir(root, name)
    meta = read_layout_meta(vdir)
    return ivf2_topk_indexed(
        spark, vdir, queries, meta["coarse"], meta["fines"], k=k,
        n_probe_coarse=n_probe_coarse, n_probe_fine=n_probe_fine,
        id_col=id_col, vec_col=vec_col,
    )


def hybrid_rrf_versioned(
    spark,
    root: str,
    lex: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_cand: int = 20,
    n_probe_coarse: int = 2,
    n_probe_fine: int = 2,
    k0: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """q115's hybrid fusion with the vector side served from the
    CURRENT index version (VERDICT r12 item 4: the indexed hybrid
    composed with the retrain loop's versioned serving).

    ``lex`` is the already-ranked lexical candidate list
    ``(doc_id, rnk)`` — the BM25 discipline is q115's, unchanged
    (queries/relevance.py, q115_hybrid_rrf_indexed); ``queries`` is
    the single probe row, as in q115. The vector side ranks the ≤
    ``k_cand`` versioned-index candidates on the 2-dp-rounded cosine
    with the id tie-break, and reciprocal-rank fusion (k0=60) cuts the
    top ``k`` — byte-for-byte the q115 contract, only the layout the
    candidates come from differs.

    Swap consistency: the pointer is resolved exactly ONCE per request
    — inside :func:`ivf2_topk_versioned`, at plan-construction time —
    so a retrain flip landing mid-request can never mix layouts. A
    request that resolved pre-swap keeps reading the retained
    predecessor's consistent files (the ``gc_versions`` retain=2
    grace); the next request serves the new version. Pinned across a
    live swap in tests/test_index_maintenance.py.
    """
    from pyspark.sql.window import Window

    from cdc_example_spark.operators.index_health import _dec
    from cdc_example_spark.operators.relevance import rrf_fuse

    vec = (
        ivf2_topk_versioned(
            spark, root, queries, k=k_cand,
            n_probe_coarse=n_probe_coarse, n_probe_fine=n_probe_fine,
            id_col=id_col, vec_col=vec_col,
        )
        .select(
            F.col("vec_id").alias("doc_id"),
            _dec(F.col("cos_sim"), 2).alias("cos_sim"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cos_sim").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rnk")
    )
    return (
        rrf_fuse({"lex": lex, "vec": vec}, id_col="doc_id", k0=k0)
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(k)
    )
