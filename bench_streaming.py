"""Streaming benchmark: CDC apply throughput + per-batch latency.

Evidence for BASELINE.md targets T2 (≥10k change-events/s through
decode→route→MERGE) and T3 (≤1s event-to-visible at a 500ms trigger).

Replays synthetic Debezium envelopes (shape: reference
prototype/message.md:6-49) through the full streaming path —
file source → from_json decode → after-IS-NULL routing → foreachBatch
MERGE into the bucket-partitioned KeyedStateSink — with availableNow,
split into several micro-batches so per-batch merge cost is realistic.

Prints ONE JSON line:
    {"metric": "cdc apply throughput", "value": <events/s>, "unit":
     "events/sec", "events": N, "batches": B, "batch_apply_p50_ms": ...}

Run:  python bench_streaming.py   (knobs: SPARK_GRAFT_STREAM_EVENTS)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))


def run(
    spark=None,
    n_events: int | None = None,
    n_files: int = 5,
    num_buckets: "int | None" = None,
) -> dict:
    """Run the CDC apply benchmark; returns the metrics dict.

    Reusable from bench.py (which embeds the numbers in its one-line
    JSON) — pass the session to share it; owns-and-stops it otherwise.
    """
    if n_events is None:
        n_events = int(os.environ.get("SPARK_GRAFT_STREAM_EVENTS", "300000"))
    n_keys = max(100, n_events // 20)

    from cdc_fixtures import envelope, row_image

    from cdc_example_spark.operators.keyed_state import KeyedStateSink
    from cdc_example_spark.session import get_spark
    from cdc_example_spark.streaming.materialize import file_cdc_source, materialize

    owns_session = spark is None
    if owns_session:
        spark = get_spark("cdc_example_spark-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="cdc_stream_bench_")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    keys = [str(uuid.uuid4()) for _ in range(n_keys)]

    # one JSON-lines file per micro-batch; ~15% updates, ~5% deletes.
    per_file = n_events // n_files
    seq = 0
    for f in range(n_files):
        with open(os.path.join(src_dir, f"batch_{f:03d}.jsonl"), "w") as fh:
            for i in range(per_file):
                key = keys[(seq * 7919) % n_keys]
                ts = 1761523268027 + seq
                if seq % 20 == 19:
                    rec = envelope("d", key, after=None, ts_ms=ts, lsn=10000 + 8 * seq)
                else:
                    img = row_image(
                        key,
                        "2025-10-26T23:59:27.585446Z",
                        "2025-10-26T23:59:28.585446Z",
                        f"message body {seq}",
                        f"user{seq % 97}",
                    )
                    op = "u" if seq % 7 == 3 else "i"
                    rec = envelope(op, key, after=img, ts_ms=ts, lsn=10000 + 8 * seq)
                fh.write(json.dumps(rec) + "\n")
                seq += 1

    sink = KeyedStateSink(
        path=os.path.join(work, "state"),
        num_buckets=num_buckets,
    )
    batch_times: list[float] = []
    marks: list[float] = [time.perf_counter()]

    def on_batch(df, bid):
        now = time.perf_counter()
        batch_times.append(now - marks[-1])
        marks.append(now)

    t0 = time.perf_counter()
    q = materialize(
        file_cdc_source(spark, src_dir, max_files_per_trigger=1),
        sink,
        checkpoint_dir=os.path.join(work, "ckpt"),
        on_batch=on_batch,
        trigger_once=True,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0

    visible = sink.snapshot(spark).count()
    shutil.rmtree(work, ignore_errors=True)

    out = {
        "metric": "cdc apply throughput (decode->route->merge)",
        "value": round(seq / wall, 1),
        "unit": "events/sec",
        "events": seq,
        "batches": len(batch_times),
        "batch_apply_p50_ms": round(statistics.median(batch_times) * 1000, 1)
        if batch_times
        else None,
        "events_per_batch": per_file,
        "num_buckets": sink.num_buckets,
        "auto_sized": num_buckets is None,
        "final_state_rows": visible,
        "wall_s": round(wall, 2),
    }
    if owns_session:
        spark.stop()
    return out


def main() -> None:
    print(json.dumps(run()))


if __name__ == "__main__":
    sys.exit(main())
