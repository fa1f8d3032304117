"""``ann_live``: the CDC-fresh IVF2 index under live upserts and reads.

Set-up bootstraps ``init_versioned_ivf2`` from the sf0.1
``embeddings`` table (2,000 rows) and loads the same rows into the
table of record. An open-loop generator then writes seeded embedding
inserts, updates and deletes (``ANN_RATE_EPS``) into the file source of
``materialize_with_monitored_index``; the inserts pile around one
direction, so cell occupancy drifts toward a PSI-flagged retrain and
swap. One closed-loop reader calls ``ivf2_topk_versioned`` (k=10) with
seeded query vectors. Its reads race the index merges (no read gate,
see :class:`probes.ReadGate`); a read that fails counts in ``failed``.

After the stream drains: the table of record must equal the LWW fold of
the feed, the current index version must hold exactly the table's ids,
and ``ann_recall_at_10`` compares served top-10 with exact cosine over
the final state.

The index helpers below (bootstrap, one reader call, one upkeep burst
beside reads) also serve ``batch_queries``.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from perfbench import datagen, probes
from perfbench.bench import Result
from perfbench.wl_cdc import _ApplyProbe, _exec_totals, _progress, _stream_layers

ANN_RATE_EPS = 80
ANN_TICK_S = 0.25
N_COARSE, N_FINE = 8, 4
K = 10
RECALL_QUERIES = 20


def _emb_schema():
    from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

    return StructType([StructField("id", StringType()),
                       StructField("embedding", ArrayType(DoubleType()))])


def run(ctx) -> Result:
    from perfbench.datagen import AnnFeed, envelope, write_jsonl

    trace = ctx.trace
    base = base_vectors()
    feed = AnnFeed(ctx.seed, base)
    qrng = np.random.default_rng([ctx.seed, 0x0E])
    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    boot = os.path.join(ctx.work, "boot.jsonl")
    write_jsonl(boot, [envelope("i", k, None, {"id": k, "embedding": v}, 1, 0)
                       for k, v in base.items()])
    events: list[dict] = []

    ctx.start_setup()
    spark = ctx.get_spark()
    from cdc_example_spark.operators.keyed_state import KeyedStateSink
    from cdc_example_spark.streaming import index_maintenance as IM
    from cdc_example_spark.streaming.envelope import decode_envelope, route_changes

    schema = _emb_schema()
    root = os.path.join(ctx.work, "ann")
    sink = KeyedStateSink(path=os.path.join(ctx.work, "state"), schema=schema)
    raw = spark.read.schema("key STRING, value STRING").json(boot)
    sink.apply_changes(route_changes(decode_envelope(raw, row_schema=schema)))
    bootstrap_index(spark, root, base, ctx.seed)

    apply = _ApplyProbe()
    reports: list[dict] = []

    def after_maintain(args, kwargs, rep, t0, t1):
        reports.append({"t0": t0, "t1": t1, "batch_id": kwargs.get("batch_id"), **rep})

    restore_maintain = probes.wrap(IM, "maintain_versioned_index", after=after_maintain)
    stop = threading.Event()
    topk_ms: list[float] = []
    topk_groups: list[str] = []
    errors: list[str] = []
    wrong: list[str] = []
    late_ms: list[float] = []
    q = None
    try:
        q = IM.materialize_with_monitored_index(
            spark.readStream.schema("key STRING, value STRING")
            .option("maxFilesPerTrigger", 100_000).json(src),
            sink, root, os.path.join(ctx.work, "ckpt"), sample_size=2048, seed=ctx.seed,
        )
        # one warm read before the clock starts its measured window
        IM.ivf2_topk_versioned(spark, root, _queries(spark, qrng, 1), k=K).toArrow()
        ctx.end_setup()

        @probes.own_thread
        def generator():
            per_tick = int(round(ANN_RATE_EPS * ANN_TICK_S))
            t0, i = time.time(), 0
            while not stop.is_set():
                due = t0 + i * ANN_TICK_S
                wait = due - time.time()
                if wait > 0 and stop.wait(wait):
                    return
                late_ms.append(max(0.0, time.time() - due) * 1000.0)
                lines = []
                for _ in range(per_tick):
                    op, vid, before, after, lsn = feed.next_event()
                    ms = int(time.time() * 1000)
                    lines.append(envelope(op, vid, before, after, lsn, ms))
                    events.append({"lsn": lsn, "key": vid, "after": after})
                write_jsonl(os.path.join(src, f"f{i:06d}.jsonl"), lines)
                i += 1

        def reader():
            sc = spark.sparkContext
            k = 0
            while not stop.is_set():
                qdf = _queries(spark, qrng, 1)
                group = f"topk#{k}"
                k += 1
                if trace.enabled:
                    with trace.hook():
                        sc.setJobGroup(group, group)
                t0 = time.time()
                try:
                    tb = IM.ivf2_topk_versioned(spark, root, qdf, k=K).toArrow()
                except Exception as e:  # counted as a failed read; the loop goes on
                    errors.append(f"top-k: {type(e).__name__}: {str(e)[:200]}")
                    continue
                t1 = time.time()
                if tb.num_rows != K:
                    wrong.append(f"top-k returned {tb.num_rows} rows")
                topk_ms.append((t1 - t0) * 1000.0)
                topk_groups.append(group)
                trace.span("ann.topk", t0, t1, id=group)

        threads = [threading.Thread(target=generator), threading.Thread(target=reader)]
        t_window = time.time()
        cpu = probes.engine_cpu_s()
        for t in threads:
            t.start()
        stop.wait(ctx.seconds)
        stop.set()
        for t in threads:
            t.join(timeout=90)
        window_s = time.time() - t_window
        cpu = probes.engine_cpu_s() - cpu
        q.processAllAvailable()
        prog = _progress(q)
    finally:
        if q is not None:
            q.stop()
        apply.restore()
        restore_maintain()

    failures = list(wrong)
    if q.exception() is not None:
        failures.append(f"stream failed: {q.exception()}")
    from perfbench.oracles import fold_changes

    want = fold_changes([(0, k, {"id": k, "embedding": v}) for k, v in base.items()]
                        + [(e["lsn"], e["key"], e["after"]) for e in events])
    state = {r["id"]: r["embedding"] for r in sink.snapshot(spark).collect()}
    for key in sorted(set(want) ^ set(state)):
        failures.append(f"state {key}: {'missing' if key in want else 'unexpected'}")
    for key in set(want) & set(state):
        if not np.allclose(want[key]["embedding"], state[key]):
            failures.append(f"state {key}: embedding differs")
    vdir = IM.version_dir(root, IM.current_version(root))
    index_ids = {r[0] for r in spark.read.parquet(vdir).select("vec_id").collect()}
    if index_ids != set(state):
        failures.append(f"index ids differ from state: {len(index_ids ^ set(state))} ids")

    recall = _recall(spark, IM, root, state, qrng)
    named = {
        "ann_topk_p50_ms": (probes.median(topk_ms), "ms"),
        "ann_topk_p90_ms": (probes.pct(topk_ms, 90), "ms"),
        "ann_topk_per_s": (len(topk_ms) / window_s, "1/s"),
        "ann_recall_at_10": (recall, "ratio"),
        "ann_cpu_ms_per_op": (cpu * 1000.0 / max(1, len(events) + len(topk_ms)), "ms"),
    }
    window_reports = [r for r in reports if r["t0"] >= t_window]
    retrain = [r for r in window_reports if r["retrained"]]
    layers = {
        "gen.late_ms_p99": (probes.pct(late_ms, 99), "ms"),
        "ann.maintain_ms_p50": (probes.median([(r["t1"] - r["t0"]) * 1000.0 for r in window_reports]), "ms"),
        "ann.retrains": (len(retrain), "count"),
        "ann.retrain_ms": (sum((r["t1"] - r["t0"]) * 1000.0 for r in retrain), "ms"),
        "ann.touched_cells_p50": (probes.median([len(r["touched_cells"]) for r in window_reports]), "count"),
        "ann.psi_total_end": (reports[-1]["psi_total"] if reports else 0.0, "ratio"),
        "ann.gc_removed": (sum(len(r["gc_removed"]) for r in reports), "count"),
        "ann.versions_on_disk": (len(os.listdir(os.path.join(root, "versions"))), "count"),
        "keyed_state.apply_ms_p50": (probes.median([(c["t1"] - c["t0"]) * 1000.0 for c in apply.calls.values()]), "ms"),
        "keyed_state.rows_in": (sum(p.get("numInputRows", 0) for p in prog), "count"),
        "keyed_state.noop_batches": (sum(not c["merged"] for c in apply.calls.values()), "count"),
        "keyed_state.buckets_end": (sink.num_buckets, "count"),
        "source.backlog_events_end": (len(events) - sum(p.get("numInputRows", 0) for p in prog), "count"),
    }
    details = {"events": len(events), "topk_calls": len(topk_ms), "retrains_total": len(
        [r for r in reports if r["retrained"]]), "batches": len(prog)}
    if trace.enabled:
        layers.update(_stream_layers(prog, trace, set()))
        for r in reports:
            b = r["batch_id"]
            trace.span("ann.maintain", r["t0"], r["t1"], parent=f"b{b}",
                       retrained=r["retrained"])
        with trace.hook():
            store = probes.StatusStore(spark)
            jobs, stages = store.jobs(), store.stages()
        layers.update(_exec_totals(jobs, stages, since=t_window))
        per = [probes.job_summary(jobs, stages, group=g) for g in topk_groups]
        layers["ann.topk_jobs"] = (probes.median([s["jobs"] for s in per]), "count")
        layers["ann.topk_stages"] = (probes.median([s["stages"] for s in per]), "count")
    return Result(
        named=named,
        attempted=len(events) + len(topk_ms) + len(errors),
        failures=failures,
        errors=errors,
        layers=layers,
        details=details,
    )


ANN_ITEM = "ann_topk_versioned"
#: Events in the drift burst ``batch_queries`` feeds through one
#: ``maintain_versioned_index`` call after its measured window: enough
#: inserts piled around one direction that the PSI monitor flags a
#: retrain and the index swaps version on every seed.
BURST_EVENTS = 1_600


def base_vectors() -> dict[str, list[float]]:
    """The sf0.1 ``embeddings`` rows by id: the corpus the index starts from."""
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(datagen.data_dir(), "embeddings.parquet"))
    return {str(i): [float(x) for x in v]
            for i, v in zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist())}


def bootstrap_index(spark, root: str, base: dict, seed: int) -> None:
    from cdc_example_spark.streaming import index_maintenance as IM

    vectors = spark.createDataFrame(list(base.items()), "vec_id string, embedding array<double>")
    IM.init_versioned_ivf2(vectors, N_COARSE, N_FINE, root, sample_size=2048, seed=seed)


def topk_call(spark, root: str, qvec: list[float]):
    """One reader call: a top-k request for one query vector, up to an
    Arrow table."""
    from cdc_example_spark.streaming import index_maintenance as IM

    qdf = spark.createDataFrame([("q0", qvec)], "vec_id string, embedding array<double>")
    return IM.ivf2_topk_versioned(spark, root, qdf, k=K)


def upkeep_beside_reads(ctx, spark, root: str, base: dict, qvec: list[float]) -> dict:
    """A seeded drift burst through one ``maintain_versioned_index`` call
    (merge into the current version, health check, retrain and swap),
    run on a second thread while this one keeps calling top-k, so reads
    are served across the swap. The reads wait out the merge step
    (``ivf2_apply_cdc``, behind a :class:`probes.ReadGate`), which
    rewrites the files they read; ``ann_live`` runs reads beside merges
    without the gate. Then the served index must hold exactly the
    folded ids, and recall is read against exact cosine."""
    from cdc_example_spark.streaming import index_maintenance as IM
    from cdc_example_spark.streaming.envelope import decode_envelope

    from perfbench.datagen import AnnFeed, envelope, write_jsonl

    feed = AnnFeed(ctx.seed, base)
    path = os.path.join(ctx.work, "ann_burst.jsonl")
    write_jsonl(path, [envelope(op, vid, before, after, lsn, 0)
                       for op, vid, before, after, lsn in
                       (feed.next_event() for _ in range(BURST_EVENTS))])
    decoded = decode_envelope(spark.read.schema("key STRING, value STRING").json(path),
                              row_schema=_emb_schema(), key_field="id")
    out: dict = {"topk_ms": [], "errors": [], "failures": []}

    def maintain():
        t0 = time.time()
        try:
            out["report"] = IM.maintain_versioned_index(
                decoded, root, batch_id=1, sample_size=2048, seed=ctx.seed)
        except Exception as e:  # reported as a failed operation
            out["errors"].append(f"maintain: {type(e).__name__}: {str(e)[:200]}")
        out["maintain_s"] = (t0, time.time())

    if ctx.trace.enabled:
        with ctx.trace.hook():
            spark.sparkContext.setJobGroup("ann_upkeep", "ann_upkeep")
    gate = probes.ReadGate()
    restore = probes.serialize(IM, "ivf2_apply_cdc", gate)
    worker = threading.Thread(target=maintain)
    try:
        worker.start()
        while worker.is_alive():
            t0 = time.time()
            try:
                with gate.read():
                    tb = topk_call(spark, root, qvec).toArrow()
            except Exception as e:  # counted as a failed read; reads go on
                out["errors"].append(f"top-k beside upkeep: {type(e).__name__}: {str(e)[:200]}")
                continue
            out["topk_ms"].append((time.time() - t0) * 1000.0)
            if tb.num_rows != K:
                out["failures"].append(f"top-k beside upkeep returned {tb.num_rows} rows")
        worker.join()
    finally:
        restore()
    index_ids = {r[0] for r in spark.read.parquet(
        IM.version_dir(root, IM.current_version(root))).select("vec_id").collect()}
    if index_ids != set(feed.live):
        out["failures"].append(f"index ids differ from the folded feed: "
                               f"{len(index_ids ^ set(feed.live))} ids")
    out["recall"] = _recall(spark, IM, root, feed.live, np.random.default_rng([ctx.seed, 0x0E]))
    return out


def _queries(spark, rng, n: int):
    x = datagen.unit_rows(rng.normal(size=(n, datagen.EMB_DIM)))
    return spark.createDataFrame(
        [(f"q{i}", [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id string, embedding array<double>",
    )


def _recall(spark, IM, root: str, state: dict, rng) -> float:
    """Mean share of the exact cosine top-10 (over the final state) that
    the served top-10 returns, over seeded query vectors."""
    ids = sorted(state)
    X = datagen.unit_rows(np.asarray([state[i] for i in ids], dtype=np.float64))
    Q = datagen.unit_rows(rng.normal(size=(RECALL_QUERIES, datagen.EMB_DIM)))
    qdf = spark.createDataFrame(
        [(f"q{i}", [float(v) for v in row]) for i, row in enumerate(Q)],
        "vec_id string, embedding array<double>",
    )
    served: dict[str, set] = {}
    for r in IM.ivf2_topk_versioned(spark, root, qdf, k=K).collect():
        served.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = 0
    for i, row in enumerate(Q):
        exact = {ids[j] for j in np.argsort(-(X @ row), kind="stable")[:K]}
        hits += len(exact & served.get(f"q{i}", set()))
    return hits / (K * len(Q))
