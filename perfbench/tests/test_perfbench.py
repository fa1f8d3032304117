"""The benchmark's own tests.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os

import pytest

from perfbench import bench, datagen, oracles, wl_batch

# ------------------------------------------------------------ result record


def test_record_carries_every_metric_with_its_unit():
    for workload, named in bench.NAMED.items():
        values = {k: (1.5, u) for k, u in named.items()}
        values["setup_s"] = (2.5, "s")
        slots = dict(bench.SLOTS[workload], setup_s="setup_s")
        # every slot is filled by a named metric of the same unit
        for slot, unit in bench.END_TO_END.items():
            assert values[slots[slot]][1] == unit, (workload, slot)
        untraced = bench.record_metrics(False, values, {}, slots)
        assert untraced == {k: {"value": values[slots[k]][0], "unit": u}
                            for k, u in bench.END_TO_END.items()}
        layers = {"exec.jobs": (3, "count"), "host.canary_ms": (40.0, "ms")}
        traced = bench.record_metrics(True, values, layers, slots)
        assert list(traced) == list(bench.PER_LAYER)
        assert all(traced[k]["unit"] == u for k, u in bench.PER_LAYER.items())
        assert traced["exec.jobs"]["value"] == 3.0


def test_named_metrics_carry_the_documented_names():
    assert set(bench.NAMED["batch_queries"]) >= {
        "query_warm_p50_ms", "query_warm_p90_ms", "batch_warm_total_s", "batch_cold_total_s"}
    assert set(bench.NAMED["cdc_live"]) >= {
        "cdc_frame_p50_ms", "cdc_frame_p99_ms", "cdc_visible_p99_ms",
        "rest_list_p50_ms", "rest_list_p90_ms"}
    assert "cdc_catchup_eps" in bench.NAMED["cdc_catchup"]
    for workload in ("batch_queries", "ann_live"):
        assert set(bench.NAMED[workload]) >= {
            "ann_topk_p50_ms", "ann_topk_p90_ms", "ann_recall_at_10"}
    assert set(bench.WORKLOADS) == set(bench.NAMED) == set(bench.SLOTS)


def test_a_missing_number_is_refused():
    with pytest.raises(ValueError):
        bench._num(float("nan"))
    # a layer percentile with no sample reads 0 in the traced record
    traced = bench.record_metrics(True, {}, {"ann.topk_jobs": (float("nan"), "count")}, {})
    assert traced["ann.topk_jobs"]["value"] == 0.0


# ------------------------------------------------------------- fold oracle


def test_fold_with_in_batch_delete_and_resurrection():
    a1 = {"id": "a", "message": "a1"}
    a2 = {"id": "a", "message": "a2"}
    a3 = {"id": "a", "message": "a3"}
    b1 = {"id": "b", "message": "b1"}
    # one batch: insert, update, delete, re-insert of "a", listed out of
    # lsn order; "b" inserted then deleted for good
    batch = [(13, "a", None), (10, "a", a1), (14, "a", a3), (11, "a", a2),
             (20, "b", b1), (21, "b", None)]
    assert oracles.fold_changes(batch) == {"a": a3}
    assert oracles.fold_changes(batch[:2]) == {}  # the delete outranks the earlier insert


def test_fold_matches_a_replay_of_a_seeded_feed():
    feed = datagen.CdcFeed(seed=7, n_keys=4)
    events = [feed.next_event(1_000 + i) for i in range(300)]
    ops = [(op, key) for _, op, key, _, _, _ in events]
    deleted = {k for op, k in ops if op == "d"}
    assert deleted, "the feed deletes keys"
    assert any(("i", k) in ops[i + 1:] for i, (op, k) in enumerate(ops) if op == "d"), \
        "a deleted key comes back"
    replay: dict[str, dict] = {}
    for _, op, key, _, _, after in sorted(events, key=lambda e: e[3]):
        if op == "d":
            replay.pop(key, None)
        else:
            replay[key] = after
    folded = oracles.fold_changes((lsn, key, after) for _, _, key, lsn, _, after in events)
    assert folded == replay == feed.live


# ----------------------------------------------------------- batch checker


def test_batch_checker_rejects_a_perturbed_result(tmp_path):
    import pyarrow as pa

    sql = "SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n FROM nation GROUP BY 1 ORDER BY 1"
    checker = oracles.BatchChecker(datagen.data_dir(), str(tmp_path / "cache"))
    try:
        expected = checker.oracle_digest("t", sql)
        table = checker._con.execute(sql).arrow()
        if isinstance(table, pa.RecordBatchReader):
            table = table.read_all()
    finally:
        checker.close()
    # same rows in another row and column order: accepted
    shuffled = table.select(["n", "n_regionkey"]).take([4, 2, 0, 1, 3])
    assert oracles.digest(shuffled) == expected
    # one value off: rejected
    n = table.column("n").to_pylist()
    n[0] += 1
    perturbed = table.set_column(1, "n", pa.array(n, pa.int64()))
    assert oracles.digest(perturbed) != expected
    # an int where the oracle has a float: rejected (type classes count)
    as_float = table.set_column(1, "n", pa.array([float(v) for v in table.column("n").to_pylist()]))
    assert oracles.digest(as_float) != expected
    # the oracle answer is cached on disk, keyed on the input files
    assert os.listdir(tmp_path / "cache")


# ------------------------------------------------------ seeds and checks


def test_two_seeds_give_different_inputs():
    assert wl_batch.query_order(1) != wl_batch.query_order(2)
    assert sorted(wl_batch.query_order(1)) == sorted(wl_batch.BATCH_QUERIES)
    f1, f2 = datagen.CdcFeed(1, 100), datagen.CdcFeed(2, 100)
    e1 = [f1.next_event(0)[1:4] for _ in range(50)]
    e2 = [f2.next_event(0)[1:4] for _ in range(50)]
    assert e1 != e2
    same = datagen.CdcFeed(1, 100)
    assert [same.next_event(0)[1:4] for _ in range(50)] == e1


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from cdc_example_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_conf={"spark.driver.memory": "2g",
                                                  "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.mark.parametrize("seed", [1, 2])
def test_both_seeds_pass_the_state_check(spark, tmp_path, seed):
    from cdc_example_spark.operators.keyed_state import KeyedStateSink
    from cdc_example_spark.streaming.materialize import file_cdc_source, materialize

    from perfbench.wl_cdc import _check_state

    src = tmp_path / "src"
    src.mkdir()
    feed = datagen.CdcFeed(seed, n_keys=30)
    events = []
    for f in range(3):  # three micro-batches
        lines = []
        for _ in range(60):
            seq, op, key, lsn, before, after = feed.next_event(1_760_000_000_000 + len(events))
            lines.append(datagen.envelope(op, key, before, after, lsn, 0))
            events.append({"seq": seq, "op": op, "key": key, "lsn": lsn, "after": after})
        path = str(src / f"f{f}.jsonl")
        datagen.write_jsonl(path, lines)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    sink = KeyedStateSink(path=str(tmp_path / "state"))
    materialize(file_cdc_source(spark, str(src)), sink, str(tmp_path / "ckpt"),
                trigger_once=True).awaitTermination(120)
    failures: list[str] = []
    _check_state(spark, sink, events, failures)
    assert failures == []
    # and the check does catch a wrong state
    events[-1] = dict(events[-1], after={**(events[-1]["after"] or {}), "id": events[-1]["key"],
                                           "message": "never written", "username": "x"})
    _check_state(spark, sink, events, failures)
    assert failures


def test_benchmark_json_matches_the_record():
    import json

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(bench.PER_LAYER.items())
    assert {w["name"] for w in spec["workloads"]} <= set(bench.WORKLOADS)


def test_the_data_copy_is_the_sf01_table_set():
    import pyarrow.parquet as pq

    from cdc_example_spark.sources.catalog import TABLE_NAMES

    path = datagen.data_dir()
    assert sorted(os.listdir(path)) == sorted(f"{t}.parquet" for t in TABLE_NAMES)
    rows = {t: pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows
            for t in ("lineitem", "orders", "embeddings")}
    assert rows == {"lineitem": 600_000, "orders": 150_000, "embeddings": 2_000}
    fp = datagen.data_fingerprint(path)
    assert set(fp) == set(os.listdir(path)) and all(len(v) == 16 for v in fp.values())


# ----------------------------------------------------------------- probes


def test_self_time_leaves_out_what_children_cover():
    from perfbench import probes

    spans = [
        {"name": "query", "start": 0.0, "end": 10.0, "parent": None, "id": "q1"},
        {"name": "spark.job", "start": 2.0, "end": 5.0, "parent": "q1", "id": None},
        {"name": "spark.job", "start": 4.0, "end": 7.0, "parent": "q1", "id": None},
    ]
    self_s = probes.self_times(spans)
    assert self_s["query"] == pytest.approx(5.0)  # 10 s minus the 2..7 s the jobs cover
    assert self_s["spark.job"] == pytest.approx(6.0)


def test_own_threads_are_left_out_of_the_engine_cpu():
    import threading
    import time

    from perfbench import probes

    def spin(seconds):
        end = time.thread_time() + seconds
        while time.thread_time() < end:
            pass

    before = probes.engine_cpu_breakdown()["driver_py"]
    t = threading.Thread(target=probes.own_thread(spin), args=(0.3,))
    t.start()
    t.join()
    own = probes.engine_cpu_breakdown()["driver_py"] - before
    t = threading.Thread(target=spin, args=(0.3,))
    t.start()
    t.join()
    other = probes.engine_cpu_breakdown()["driver_py"] - before - own
    assert own < 0.1  # the benchmark's own thread: left out
    assert other > 0.2  # any other thread of this process: counted


def test_steal_share_from_cpu_counters():
    from perfbench import probes

    before = [10, 0, 5, 80, 0, 0, 0, 5, 0, 0]
    after = [20, 0, 5, 160, 0, 0, 0, 15, 0, 0]
    assert probes.steal_frac(before, after) == pytest.approx(0.1)
    assert probes.steal_frac(before, before) == 0.0


def test_the_read_gate_keeps_reads_out_of_writes():
    import threading
    import time

    from perfbench import probes

    log: list[str] = []

    class Store:
        def merge(self):
            log.append("w+")
            time.sleep(0.02)
            log.append("w-")

    gate = probes.ReadGate()
    restore = probes.serialize(Store, "merge", gate)
    try:
        writer = threading.Thread(target=lambda: [Store().merge() for _ in range(5)])
        writer.start()
        for _ in range(20):
            with gate.read():
                log.append("r+")
                time.sleep(0.005)
                log.append("r-")
        writer.join()
    finally:
        restore()
    assert not hasattr(Store.merge, "__wrapped__")  # the original is back
    assert len(log) == 50
    # every start is followed at once by its own end: no read overlaps a write
    assert all(log[i][1] == "+" and log[i + 1] == log[i][0] + "-" for i in range(0, 50, 2))
