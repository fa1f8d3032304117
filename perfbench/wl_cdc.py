"""The CDC workloads.

``cdc_live``: an open-loop generator writes Debezium envelopes at
``LIVE_RATE_EPS`` into the file source directory (one file per
``LIVE_TICK_S``, written under a temporary name and renamed in), stamping
each event with its creation time. ``materialize`` runs with its default
500 ms trigger and merges into a ``KeyedStateSink``; the benchmark's
``on_batch`` turns each batch into ``ws_frames`` and sends them through
``WsHub.broadcast`` to one socket client. One closed-loop client calls
``GET /api/messages`` on a ``MessageRestServer`` over the same sink.
Its reads and the sink's merges share one SparkContext but never
overlap: each GET waits out a running merge and a waiting merge goes
first (:class:`probes.ReadGate`), because a snapshot read racing a
merge can fail. ``cdc_live_racing`` is the same workload without the
gate. A read that fails is counted as a failed operation, not a wrong
answer.

``cdc_catchup``: a preloaded backlog of ``CATCHUP_FILES`` files of
``CATCHUP_BATCH_EVENTS`` envelopes each, over a skewed key space, is
drained with ``availableNow`` one file per micro-batch. No readers, no
socket.

Both check the final state against the last-write-wins fold of the
generated feed; ``cdc_live`` also checks that every event was framed
exactly once.
"""

from __future__ import annotations

import base64
import contextlib
import http.client
import json
import os
import socket
import threading
import time

from perfbench import probes
from perfbench.bench import Result
from perfbench.oracles import fold_changes

LIVE_RATE_EPS = 200
LIVE_TICK_S = 0.1
LIVE_KEYS = 2_000
LIVE_PRELOAD_EVENTS = 2_000
LIVE_WARMUP_BATCHES = 3

CATCHUP_FILES = 6
CATCHUP_BATCH_EVENTS = 8_000
CATCHUP_WARMUP_EVENTS = 4_000
CATCHUP_KEYS = 20_000
CATCHUP_HOT_KEYS = 20
CATCHUP_HOT_FRAC = 0.3


class WsClient:
    """Minimal RFC 6455 client: handshake, then record every text frame
    with its arrival time (seconds since the epoch)."""

    def __init__(self, port: int):
        self.frames: list[tuple[float, bytes]] = []
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (f"GET / HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\nUpgrade: websocket\r\n"
             f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
             "Sec-WebSocket-Version: 13\r\n\r\n").encode()
        )
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("websocket handshake closed")
            buf += chunk
        if b" 101 " not in buf.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"websocket handshake refused: {buf[:80]!r}")
        self._rest = buf.split(b"\r\n\r\n", 1)[1]
        self.sock.settimeout(None)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _read(self, n: int) -> bytes:
        while len(self._rest) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("closed")
            self._rest += chunk
        out, self._rest = self._rest[:n], self._rest[n:]
        return out

    @probes.own_thread
    def _loop(self) -> None:
        try:
            while True:
                b0, b1 = self._read(2)
                n = b1 & 0x7F
                if n == 126:
                    n = int.from_bytes(self._read(2), "big")
                elif n == 127:
                    n = int.from_bytes(self._read(8), "big")
                payload = self._read(n)
                if b0 & 0x0F == 0x8:
                    return
                if b0 & 0x0F == 0x1:
                    self.frames.append((time.time(), payload))
        except (OSError, ConnectionError, ValueError):
            return

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass
        self._thread.join(timeout=5)


def run(ctx) -> Result:
    if ctx.workload == "cdc_catchup":
        return _catchup(ctx)
    return _live(ctx, gated=ctx.workload == "cdc_live")


def _batch_id(args, kwargs) -> "int | None":
    """The ``batch_id`` of a ``KeyedStateSink.apply_changes`` call."""
    return kwargs.get("batch_id", args[2] if len(args) > 2 else None)


class _ApplyProbe:
    """Wraps ``KeyedStateSink.apply_changes`` for the run: the return
    time of each batch's merge (``cdc_visible``) always; its duration,
    result and bucket count too."""

    def __init__(self):
        from cdc_example_spark.operators.keyed_state import KeyedStateSink

        self.calls: dict[int, dict] = {}
        self.resizes = 0
        self._buckets: int | None = None

        def after(args, kwargs, merged, t0, t1):
            sink = args[0]
            bid = _batch_id(args, kwargs)
            if self._buckets is not None and sink.num_buckets != self._buckets:
                self.resizes += 1
            self._buckets = sink.num_buckets
            self.calls[bid] = {"t0": t0, "t1": t1, "merged": bool(merged)}

        self.restore = probes.wrap(KeyedStateSink, "apply_changes", after=after)


def _state_rows(spark, sink) -> dict[str, dict]:
    rows = sink.snapshot(spark).collect()
    return {r["id"]: r.asDict() for r in rows}


def _check_state(spark, sink, events, failures: list[str]) -> None:
    """Final sink state against the LWW fold of every generated event."""
    want = fold_changes((e["lsn"], e["key"], e["after"]) for e in events)
    got = _state_rows(spark, sink)
    for key in sorted(set(want) | set(got)):
        w, g = want.get(key), got.get(key)
        if w is None or g is None:
            failures.append(f"state {key}: expected {'absent' if w is None else 'present'}")
        elif (g["message"], g["username"]) != (w["message"], w["username"]):
            failures.append(f"state {key}: {g['message']} != {w['message']}")


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _iso_to_epoch(s: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _stream_layers(prog: list[dict], trace, prefix_batches: set[int]) -> dict:
    """Per-batch phase split from ``recentProgress``; batches in
    ``prefix_batches`` (set-up) are left out."""
    rows = [p for p in prog if p["batchId"] not in prefix_batches and p.get("numInputRows", 0) > 0]
    d = lambda k: [float(p["durationMs"].get(k, 0)) for p in rows]  # noqa: E731
    out = {
        "stream.batches": (len(rows), "count"),
        "stream.rows_per_batch_p50": (probes.median([p["numInputRows"] for p in rows]), "count"),
        "stream.add_batch_ms_p50": (probes.median(d("addBatch")), "ms"),
        "stream.query_planning_ms_p50": (probes.median(d("queryPlanning")), "ms"),
        "stream.wal_commit_ms_p50": (probes.median(d("walCommit")), "ms"),
        "stream.commit_ms_p50": (probes.median(d("commitOffsets")), "ms"),
        "stream.get_batch_ms_p50": (probes.median(d("getBatch")), "ms"),
        "stream.latest_offset_ms_p50": (probes.median(d("latestOffset")), "ms"),
        "stream.trigger_ms_p50": (probes.median(d("triggerExecution")), "ms"),
    }
    for p in rows:
        start = _iso_to_epoch(p["timestamp"])
        trace.span("stream.batch", start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
                   id=f"b{p['batchId']}", durations=p["durationMs"], rows=p["numInputRows"])
    return out


def _batch_coverage(prog: list[dict], on_batch_ms: dict[int, float],
                    apply: dict[int, dict], skip: set[int],
                    gate_wait_ms: "dict[int, float] | None" = None) -> dict:
    """How much of each batch the recorded parts account for: the
    progress components against ``triggerExecution``, and the merge
    (with its wait for the read gate) plus ``on_batch`` against
    ``addBatch``."""
    gate_wait_ms = gate_wait_ms or {}
    parts = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")
    trig, add = [], []
    for p in prog:
        b = p["batchId"]
        if b in skip or p.get("numInputRows", 0) == 0:
            continue
        dm = p["durationMs"]
        total = float(dm.get("triggerExecution", 0))
        if total > 0:
            trig.append(abs(total - sum(float(dm.get(k, 0)) for k in parts)) / total)
        a = float(dm.get("addBatch", 0))
        if a > 0 and b in apply:
            inner = ((apply[b]["t1"] - apply[b]["t0"]) * 1000.0 + on_batch_ms.get(b, 0.0)
                     + gate_wait_ms.get(b, 0.0))
            add.append(abs(a - inner) / a)
    return {
        "trace.trigger_unaccounted_frac_max": max(trig) if trig else None,
        "trace.add_batch_unaccounted_frac_p50": probes.median(add),
        "trace.add_batch_unaccounted_frac_max": max(add) if add else None,
    }


def _per_batch_jobs(jobs, stages, run_id: str, apply: dict[int, dict]) -> dict:
    """Jobs, stages and tasks of each merge: the stream's jobs (job group
    = the query's run id) submitted inside the ``apply_changes`` call."""
    mine = [j for j in jobs if j.get("jobGroup") == run_id]
    per = {"jobs": [], "stages": [], "tasks": []}
    for c in apply.values():
        if not c["merged"]:
            continue
        # job times are whole milliseconds: widen the call by one
        sel = [j for j in mine
               if c["t0"] - 0.001 <= probes.epoch_s(j.get("submissionTime")) <= c["t1"] + 0.001]
        s = probes.job_summary(sel, stages)
        per["jobs"].append(s["jobs"])
        per["stages"].append(s["stages"])
        per["tasks"].append(s["tasks"])
    return {
        "keyed_state.jobs_per_batch": (probes.median(per["jobs"]), "count"),
        "keyed_state.stages_per_batch": (probes.median(per["stages"]), "count"),
        "keyed_state.tasks_per_batch": (probes.median(per["tasks"]), "count"),
    }


def _exec_totals(jobs, stages, since: float) -> dict:
    s = probes.job_summary(jobs, stages, since=since)
    return {
        "exec.jobs": (s["jobs"], "count"),
        "exec.stages": (s["stages"], "count"),
        "exec.tasks": (s["tasks"], "count"),
        "exec.run_ms_total": (s["run_ms"], "ms"),
        "exec.shuffle_write_bytes": (s["shuffle_write_bytes"], "bytes"),
        "exec.shuffle_read_bytes": (s["shuffle_read_bytes"], "bytes"),
        "exec.spill_bytes": (s["spill_bytes"], "bytes"),
        "exec.input_bytes": (s["input_bytes"], "bytes"),
    }


def _rest_get(port: int, gate: "probes.ReadGate | None" = None) -> tuple[float, int]:
    """One ``GET /api/messages``, inside ``gate.read()`` when gated:
    client-side latency (ms, the wait for the gate included) and row
    count."""
    t0 = time.time()
    with gate.read() if gate is not None else contextlib.nullcontext():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            conn.request("GET", "/api/messages")
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
    ms = (time.time() - t0) * 1000.0
    if resp.status != 200:
        raise ValueError(f"status {resp.status}")
    return ms, len(json.loads(body))


def _event_record(seq, op, key, lsn, after, created) -> dict:
    return {"seq": seq, "op": op, "key": key, "lsn": lsn, "after": after, "created": created}


def _live(ctx, gated: bool) -> Result:
    from perfbench.datagen import CdcFeed, envelope, write_jsonl

    trace = ctx.trace
    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    feed = CdcFeed(ctx.seed, LIVE_KEYS)
    events: list[dict] = []

    def make_events(n: int) -> list[str]:
        lines = []
        for _ in range(n):
            now = time.time()
            seq, op, key, lsn, before, after = feed.next_event(int(now * 1000))
            lines.append(envelope(op, key, before, after, lsn, int(now * 1000)))
            events.append(_event_record(seq, op, key, lsn, after, now))
        return lines

    write_jsonl(os.path.join(src, "f000000.jsonl"), make_events(LIVE_PRELOAD_EVENTS))

    ctx.start_setup()
    spark = ctx.get_spark()
    from cdc_example_spark.operators.keyed_state import KeyedStateSink
    from cdc_example_spark.streaming.materialize import file_cdc_source, materialize
    from cdc_example_spark.streaming.rest import MessageRestServer
    from cdc_example_spark.streaming.sinks import ws_frames
    from cdc_example_spark.streaming.websocket import WsHub

    sink = KeyedStateSink(path=os.path.join(ctx.work, "state"))
    hub = WsHub()
    client = WsClient(hub.start())
    while hub.n_clients < 1:
        time.sleep(0.01)
    rest = MessageRestServer(spark, sink).start()
    probe = _ApplyProbe()
    gate = probes.ReadGate() if gated else None
    gate_wait_ms: dict[int, float] = {}

    def waited(args, kwargs, t0, t1):
        bid = _batch_id(args, kwargs)
        gate_wait_ms[bid] = (t1 - t0) * 1000.0
        trace.span("gate.merge_wait", t0, t1, parent=f"b{bid}")

    # outside the probe's twin, so a merge's wait for a GET is not
    # counted in its apply time
    restore_gate = (probes.serialize(KeyedStateSink, "apply_changes", gate, waited)
                    if gated else lambda: None)
    batch_frames: dict[int, list[str]] = {}
    on_batch_ms: dict[int, float] = {}
    frames_ms, bcast_ms = [], []

    def on_batch(df, bid):
        t0 = time.time()
        frames = [r[0] for r in ws_frames(df).collect()]
        t1 = time.time()
        for f in frames:
            hub.broadcast(f)
        t2 = time.time()
        batch_frames[bid] = frames
        frames_ms.append((t1 - t0) * 1000.0)
        bcast_ms.append((t2 - t1) * 1000.0)
        on_batch_ms[bid] = (t2 - t0) * 1000.0
        trace.span("sinks.ws_frames", t0, t1, parent=f"b{bid}")
        trace.span("websocket.broadcast", t1, t2, parent=f"b{bid}")

    q = None
    stop = threading.Event()
    rest_lat: list[float] = []
    rest_rows: list[int] = []
    rest_errors: list[str] = []
    late_ms: list[float] = []
    try:
        q = materialize(
            file_cdc_source(spark, src, max_files_per_trigger=100_000),
            sink, os.path.join(ctx.work, "ckpt"), on_batch=on_batch,
        )
        q.processAllAvailable()
        # the stream's and the REST path's first batches run code the JVM
        # has not compiled yet; set-up runs them, the window does not
        for i in range(LIVE_WARMUP_BATCHES):
            write_jsonl(os.path.join(src, f"w{i:06d}.jsonl"), make_events(LIVE_RATE_EPS // 4))
            _rest_get(rest.port, gate)
            q.processAllAvailable()
        n_preload = len(events)
        setup_batches = set(batch_frames)
        ctx.end_setup()

        @probes.own_thread
        def generator():
            per_tick = int(round(LIVE_RATE_EPS * LIVE_TICK_S))
            t0, i = time.time(), 0
            while not stop.is_set():
                due = t0 + i * LIVE_TICK_S
                wait = due - time.time()
                if wait > 0 and stop.wait(wait):
                    return
                late_ms.append(max(0.0, time.time() - due) * 1000.0)
                write_jsonl(os.path.join(src, f"f{i + 1:06d}.jsonl"), make_events(per_tick))
                i += 1

        @probes.own_thread
        def reader():
            while not stop.is_set():
                try:
                    ms, rows = _rest_get(rest.port, gate)
                except (OSError, ValueError) as e:
                    rest_errors.append(f"GET /api/messages: {e!r}")
                    continue
                rest_lat.append(ms)
                rest_rows.append(rows)

        threads = [threading.Thread(target=generator), threading.Thread(target=reader)]
        t_window = time.time()
        cpu_window = probes.engine_cpu_s()
        for t in threads:
            t.start()
        stop.wait(ctx.seconds)
        stop.set()
        for t in threads:
            t.join(timeout=90)
        t_end = time.time()
        cpu_window = probes.engine_cpu_s() - cpu_window
        n_generated_window = len(events) - n_preload
        q.processAllAvailable()
        deadline = time.time() + 30
        while len(client.frames) < len(events) and time.time() < deadline:
            time.sleep(0.05)
        prog = _progress(q)
        client_drops = 1 - hub.n_clients
    finally:
        if q is not None:
            q.stop()
        restore_gate()
        probe.restore()
        rest.stop()
        client.close()
        hub.close()

    failures: list[str] = []
    if q.exception() is not None:
        failures.append(f"stream failed: {q.exception()}")
    _check_state(spark, sink, events, failures)

    # frames → events: upserts carry their seq in the message body,
    # deletes are matched first-in first-out per key
    by_seq = {e["seq"]: e for e in events}
    del_queue: dict[str, list[dict]] = {}
    for e in events:
        if e["op"] == "d":
            del_queue.setdefault(e["key"], []).append(e)

    def resolve(payload, queues) -> "dict | None":
        f = json.loads(payload)
        if f["type"] == "DELETE":
            qd = queues.get(f["id"])
            return qd.pop(0) if qd else None
        return by_seq.get(int(f["content"]["message"][1:]))

    framed: dict[int, int] = {}
    frame_lat, arrivals = [], {}
    queues = {k: list(v) for k, v in del_queue.items()}
    for t_recv, payload in client.frames:
        e = resolve(payload, queues)
        if e is None:
            failures.append(f"unexpected frame {payload[:80]!r}")
            continue
        framed[e["seq"]] = framed.get(e["seq"], 0) + 1
        arrivals[e["seq"]] = t_recv
    for e in events:
        n = framed.get(e["seq"], 0)
        if n != 1:
            failures.append(f"event {e['seq']} framed {n} times")
    batch_of: dict[int, int] = {}
    queues = {k: list(v) for k, v in del_queue.items()}
    for bid in sorted(batch_frames):
        for payload in batch_frames[bid]:
            e = resolve(payload, queues)
            if e is not None:
                batch_of[e["seq"]] = bid
    window = events[n_preload:]
    visible = []
    for e in window:
        if e["seq"] in arrivals:
            frame_lat.append((arrivals[e["seq"]] - e["created"]) * 1000.0)
        b = batch_of.get(e["seq"])
        if b is not None and b in probe.calls:
            visible.append((probe.calls[b]["t1"] - e["created"]) * 1000.0)

    window_s = t_end - t_window
    named = {
        "cdc_frame_p50_ms": (probes.median(frame_lat), "ms"),
        "cdc_frame_p99_ms": (probes.pct(frame_lat, 99), "ms"),
        "cdc_visible_p99_ms": (probes.pct(visible, 99), "ms"),
    }
    applied_by_end = sum(
        1 for e in window
        if batch_of.get(e["seq"]) in probe.calls and probe.calls[batch_of[e["seq"]]]["t1"] <= t_end
    )
    named["cdc_applied_eps"] = (applied_by_end / window_s, "1/s")
    named["cdc_cpu_ms_per_event"] = (cpu_window * 1000.0 / max(1, n_generated_window), "ms")
    named["rest_list_p50_ms"] = (probes.median(rest_lat), "ms")
    named["rest_list_p90_ms"] = (probes.pct(rest_lat, 90), "ms")
    # the closed-loop reader's rate: calls over the time they took, which
    # a whole-window count would round to whole calls
    named["rest_reads_per_s"] = (len(rest_lat) * 1000.0 / sum(rest_lat) if rest_lat else 0.0, "1/s")
    apply_ms = [(c["t1"] - c["t0"]) * 1000.0 for b, c in probe.calls.items() if b not in setup_batches]
    files, size = _dir_size(sink.path)
    layers = {
        "gen.late_ms_p99": (probes.pct(late_ms, 99), "ms"),
        "source.backlog_events_end": (n_generated_window - applied_by_end, "count"),
        "keyed_state.apply_ms_p50": (probes.median(apply_ms), "ms"),
        "keyed_state.apply_ms_p99": (probes.pct(apply_ms, 99), "ms"),
        "keyed_state.rows_in": (sum(len(v) for b, v in batch_frames.items() if b not in setup_batches), "count"),
        "keyed_state.noop_batches": (sum(not c["merged"] for c in probe.calls.values()), "count"),
        "keyed_state.buckets_end": (sink.num_buckets, "count"),
        "keyed_state.resizes": (probe.resizes, "count"),
        "keyed_state.state_bytes": (size, "bytes"),
        "keyed_state.state_files": (files, "count"),
        "sinks.ws_frames_ms_p50": (probes.median(frames_ms), "ms"),
        "websocket.broadcast_ms_p50": (probes.median(bcast_ms), "ms"),
        "websocket.frames_sent": (sum(len(v) for v in batch_frames.values()), "count"),
        "websocket.frames_received": (len(client.frames), "count"),
        "websocket.client_drops": (client_drops, "count"),
    }
    layers["rest.list_rows"] = (probes.median(rest_rows), "count")
    layers["rest.list_errors"] = (len(rest_errors), "count")
    details = {"events": len(events), "window_events": len(window), "rest_calls": len(rest_lat),
               "batches": len(batch_frames), "frame_samples": len(frame_lat)}
    if trace.enabled:
        batch_start = {p["batchId"]: _iso_to_epoch(p["timestamp"]) for p in prog}
        waits = [(batch_start[batch_of[e["seq"]]] - e["created"]) * 1000.0
                 for e in window if batch_of.get(e["seq"]) in batch_start]
        layers["stream.trigger_wait_ms_p50"] = (probes.median(waits), "ms")
        layers.update(_stream_layers(prog, trace, setup_batches))
        for b, c in probe.calls.items():
            trace.span("keyed_state.apply_changes", c["t0"], c["t1"], parent=f"b{b}")
        with trace.hook():
            store = probes.StatusStore(spark)
            jobs, stages = store.jobs(), store.stages()
        layers.update(_exec_totals(jobs, stages, since=t_window))
        layers.update(_per_batch_jobs(jobs, stages, str(q.runId), probe.calls))
        details.update(_batch_coverage(prog, on_batch_ms, probe.calls, setup_batches,
                                       gate_wait_ms))
        details["gate.merge_wait_ms_p50"] = probes.median(
            [v for b, v in gate_wait_ms.items() if b not in setup_batches])
    return Result(
        named=named,
        attempted=len(events) + len(rest_lat) + len(rest_errors),
        failures=failures,
        errors=rest_errors,
        layers=layers,
        details=details,
    )


def _catchup(ctx) -> Result:
    from perfbench.datagen import CdcFeed, envelope, write_jsonl

    trace = ctx.trace
    src = os.path.join(ctx.work, "src")
    os.makedirs(src)
    feed = CdcFeed(ctx.seed, CATCHUP_KEYS, hot_keys=CATCHUP_HOT_KEYS, hot_frac=CATCHUP_HOT_FRAC)
    events: list[dict] = []
    base_ms = 1_760_000_000_000
    for f in range(CATCHUP_FILES):
        lines = []
        for _ in range(CATCHUP_BATCH_EVENTS):
            ms = base_ms + len(events)
            seq, op, key, lsn, before, after = feed.next_event(ms)
            lines.append(envelope(op, key, before, after, lsn, ms))
            events.append(_event_record(seq, op, key, lsn, after, ms / 1000.0))
        path = os.path.join(src, f"f{f:06d}.jsonl")
        write_jsonl(path, lines)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))  # file order = feed order

    ctx.start_setup()
    spark = ctx.get_spark()
    from cdc_example_spark.operators.keyed_state import KeyedStateSink
    from cdc_example_spark.streaming.materialize import file_cdc_source, materialize

    # stream start: one small drain through a scratch sink, so the first
    # measured batch does not pay the stream's one-time start-up
    warm_src = os.path.join(ctx.work, "warm_src")
    os.makedirs(warm_src)
    warm_feed = CdcFeed(ctx.seed + 1, CATCHUP_KEYS)
    write_jsonl(os.path.join(warm_src, "w.jsonl"), [
        envelope(op, key, before, after, lsn, base_ms)
        for _, op, key, lsn, before, after in (
            warm_feed.next_event(base_ms) for _ in range(CATCHUP_WARMUP_EVENTS))
    ])
    materialize(
        file_cdc_source(spark, warm_src), KeyedStateSink(path=os.path.join(ctx.work, "warm_state")),
        os.path.join(ctx.work, "warm_ckpt"), trigger_once=True,
    ).awaitTermination()
    sink = KeyedStateSink(path=os.path.join(ctx.work, "state"))
    probe = _ApplyProbe()
    ctx.end_setup()
    try:
        t0 = time.time()
        cpu = probes.engine_cpu_s()
        q = materialize(
            file_cdc_source(spark, src, max_files_per_trigger=1),
            sink, os.path.join(ctx.work, "ckpt"), trigger_once=True,
        )
        q.awaitTermination()
        t1 = time.time()
        cpu = probes.engine_cpu_s() - cpu
        prog = _progress(q)
    finally:
        probe.restore()

    failures: list[str] = []
    if q.exception() is not None:
        failures.append(f"stream failed: {q.exception()}")
    _check_state(spark, sink, events, failures)
    batch_ms = [float(p["durationMs"].get("triggerExecution", 0)) for p in prog
                if p.get("numInputRows", 0) > 0]
    named = {
        "cdc_catchup_eps": (len(events) / (t1 - t0), "1/s"),
        "catchup_batch_p50_ms": (probes.median(batch_ms), "ms"),
        "catchup_batch_p90_ms": (probes.pct(batch_ms, 90), "ms"),
        "catchup_cpu_ms_per_event": (cpu * 1000.0 / len(events), "ms"),
    }
    apply_ms = [(c["t1"] - c["t0"]) * 1000.0 for c in probe.calls.values()]
    files, size = _dir_size(sink.path)
    layers = {
        "keyed_state.apply_ms_p50": (probes.median(apply_ms), "ms"),
        "keyed_state.apply_ms_p99": (probes.pct(apply_ms, 99), "ms"),
        "keyed_state.rows_in": (sum(p.get("numInputRows", 0) for p in prog), "count"),
        "keyed_state.noop_batches": (sum(not c["merged"] for c in probe.calls.values()), "count"),
        "keyed_state.buckets_end": (sink.num_buckets, "count"),
        "keyed_state.resizes": (probe.resizes, "count"),
        "keyed_state.state_bytes": (size, "bytes"),
        "keyed_state.state_files": (files, "count"),
        "source.backlog_events_end": (len(events) - sum(p.get("numInputRows", 0) for p in prog), "count"),
    }
    details = {"events": len(events), "batches": len(batch_ms), "drain_s": t1 - t0}
    if trace.enabled:
        layers.update(_stream_layers(prog, trace, set()))
        for b, c in probe.calls.items():
            trace.span("keyed_state.apply_changes", c["t0"], c["t1"], parent=f"b{b}")
        with trace.hook():
            store = probes.StatusStore(spark)
            jobs, stages = store.jobs(), store.stages()
        layers.update(_exec_totals(jobs, stages, since=t0))
        layers.update(_per_batch_jobs(jobs, stages, str(q.runId), probe.calls))
        details.update(_batch_coverage(prog, {}, probe.calls, set()))
    return Result(
        named=named,
        attempted=len(events),
        failures=failures,
        layers=layers,
        details=details,
    )
