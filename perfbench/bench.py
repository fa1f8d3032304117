"""One benchmark run in this process: set up, measure, check, report.

Started by ``perfbench/run.py`` (which fixes the environment and the
deadline); not meant to be started by hand. Prints a detail line (every
named metric, host facts, failures) and then, as the last line, the
result record: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import probes

#: workload name → module implementing ``run(ctx) -> Result``
WORKLOADS = {
    "batch_queries": "perfbench.wl_batch",
    "cdc_live": "perfbench.wl_cdc",
    "cdc_live_racing": "perfbench.wl_cdc",
    "cdc_catchup": "perfbench.wl_cdc",
    "ann_live": "perfbench.wl_ann",
}

#: The end-to-end metrics every workload reports (name → unit). Each
#: workload fills them from its own named metrics (``SLOTS``): its
#: typical and tail latency, its throughput, and the engine's CPU time
#: per operation.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}

#: Each workload's own end-to-end metrics (name → unit), printed on the
#: detail line; ``setup_s`` and ``error_rate`` are added for all.
NAMED = {
    "batch_queries": {
        "query_warm_p50_ms": "ms", "query_warm_p90_ms": "ms", "query_warm_geomean_ms": "ms",
        "batch_warm_total_s": "s", "batch_cold_total_s": "s", "batch_warm_qps": "1/s",
        "batch_cpu_ms_per_query": "ms",
        "ann_topk_p50_ms": "ms", "ann_topk_p90_ms": "ms", "ann_recall_at_10": "ratio",
    },
    "cdc_live": {
        "cdc_frame_p50_ms": "ms", "cdc_frame_p99_ms": "ms", "cdc_visible_p99_ms": "ms",
        "cdc_applied_eps": "1/s", "cdc_cpu_ms_per_event": "ms",
        "rest_list_p50_ms": "ms", "rest_list_p90_ms": "ms", "rest_reads_per_s": "1/s",
    },
    "cdc_catchup": {
        "cdc_catchup_eps": "1/s", "catchup_batch_p50_ms": "ms", "catchup_batch_p90_ms": "ms",
        "catchup_cpu_ms_per_event": "ms",
    },
    "ann_live": {
        "ann_topk_p50_ms": "ms", "ann_topk_p90_ms": "ms", "ann_topk_per_s": "1/s",
        "ann_recall_at_10": "ratio", "ann_cpu_ms_per_op": "ms",
    },
}

#: ``cdc_live`` with its REST reads racing the merges (no read gate).
NAMED["cdc_live_racing"] = NAMED["cdc_live"]

#: Which named metric fills each end-to-end slot, per workload.
SLOTS = {
    "batch_queries": {"latency_p50_ms": "query_warm_geomean_ms",
                      "latency_tail_ms": "query_warm_p90_ms",
                      "throughput_per_s": "batch_warm_qps",
                      "cpu_ms_per_op": "batch_cpu_ms_per_query"},
    "cdc_live": {"latency_p50_ms": "cdc_frame_p50_ms",
                 "latency_tail_ms": "cdc_visible_p99_ms",
                 "throughput_per_s": "cdc_applied_eps",
                 "cpu_ms_per_op": "cdc_cpu_ms_per_event"},
    "cdc_catchup": {"latency_p50_ms": "catchup_batch_p50_ms",
                    "latency_tail_ms": "catchup_batch_p90_ms",
                    "throughput_per_s": "cdc_catchup_eps",
                    "cpu_ms_per_op": "catchup_cpu_ms_per_event"},
    "ann_live": {"latency_p50_ms": "ann_topk_p50_ms",
                 "latency_tail_ms": "ann_topk_p90_ms",
                 "throughput_per_s": "ann_topk_per_s",
                 "cpu_ms_per_op": "ann_cpu_ms_per_op"},
}
SLOTS["cdc_live_racing"] = SLOTS["cdc_live"]

#: Per-layer metrics every workload reports in its traced run (name →
#: unit), the ``per_layer`` list of BENCHMARK.json. A layer the workload
#: leaves idle, or a percentile with no sample, reads 0; the rest of the
#: layer split is on the detail line.
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_tables_s": "s",
    "index.bootstrap_s": "s",
    "registry.construct_ms_total": "ms",
    "registry.session_build_s": "s",
    "plan.analysis_ms_total": "ms",
    "plan.optimization_ms_total": "ms",
    "plan.planning_ms_total": "ms",
    "arrow.transfer_ms_total": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_ms_total": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.python_nodes": "count",
    "arrow.result_bytes": "bytes",
    "keyed_state.rows_in": "count",
    "keyed_state.noop_batches": "count",
    "keyed_state.jobs_per_batch": "count",
    "keyed_state.stages_per_batch": "count",
    "keyed_state.tasks_per_batch": "count",
    "keyed_state.buckets_end": "count",
    "keyed_state.resizes": "count",
    "keyed_state.state_bytes": "bytes",
    "keyed_state.state_files": "count",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.trigger_wait_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_ms_p50": "ms",
    "keyed_state.apply_ms_p50": "ms",
    "keyed_state.apply_ms_p99": "ms",
    "sinks.ws_frames_ms_p50": "ms",
    "websocket.broadcast_ms_p50": "ms",
    "rest.list_rows": "count",
    "rest.list_errors": "count",
    "ann.topk_jobs": "count",
    "ann.topk_stages": "count",
    "ann.maintain_ms_p50": "ms",
    "ann.retrains": "count",
    "ann.retrain_ms": "ms",
    "ann.touched_cells_p50": "count",
    "ann.psi_total_end": "ratio",
    "ann.gc_removed": "count",
    "ann.versions_on_disk": "count",
    "gen.late_ms_p99": "ms",
    "source.backlog_events_end": "count",
    "websocket.frames_sent": "count",
    "websocket.frames_received": "count",
    "websocket.client_drops": "count",
    "mem.driver_rss_peak_mb": "MB",
    "mem.python_rss_peak_mb": "MB",
    "host.canary_ms": "ms",
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


@dataclass
class Result:
    """What a workload hands back: its named metrics (name → (value,
    unit)), its operation count, its wrong answers (``failures``: a
    check that did not hold) and its failed operations (``errors``: a
    call that raised, with no answer to check)."""

    named: dict[str, tuple[float, str]]
    attempted: int
    failures: list[str]
    errors: list[str] = field(default_factory=list)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    details: dict = field(default_factory=dict)


class Ctx:
    """Run-wide state: arguments, directories, the trace, and the clock
    that defines ``setup_s``."""

    def __init__(self, args, root: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.root = root
        self.trace = probes.Trace(bool(args.trace))
        state = os.path.join(root, ".perfbench")
        self.cache = os.path.join(state, "cache")
        self.results = os.path.join(state, "results")
        self.work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.spark = None
        self.setup_parts: dict[str, float] = {}
        self._setup_t0: float | None = None
        self.setup_s: float | None = None

    def start_setup(self) -> None:
        self._setup_t0 = time.perf_counter()

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self._setup_t0

    def get_spark(self, extra_conf: "dict[str, str] | None" = None):
        """Start the engine's session; the first step of set-up."""
        t0 = time.perf_counter()
        from cdc_example_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace.enabled:
            # keep every job and stage of the run for the end-of-run read
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        conf.update(extra_conf or {})
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_parts["session.get_spark_s"] = time.perf_counter() - t0
        return self.spark


def host_facts(root: str) -> dict:
    def _cmd(argv):
        try:
            return subprocess.run(argv, capture_output=True, text=True, timeout=20,
                                  cwd=root).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    import pyspark

    java = None
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=20).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    commit = "unknown (not a git checkout)"
    if _cmd(["git", "rev-parse", "--show-toplevel"]) == os.path.realpath(root):
        commit = _cmd(["git", "rev-parse", "HEAD"]) or commit
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "commit": commit,
    }


def _num(v) -> float:
    v = float(v)
    if math.isnan(v) or math.isinf(v):
        raise ValueError("metric is not a finite number")
    return v


def record_metrics(traced: bool, named: dict, layers: dict, slots: dict) -> dict:
    """The result record's ``metrics``: every end-to-end metric, or with
    tracing on every per-layer metric, as ``{name: {value, unit}}``."""
    if traced:
        def layer(name: str, unit: str) -> float:
            v = float(layers.get(name, (0.0, unit))[0])
            return 0.0 if math.isnan(v) else _num(v)

        return {name: {"value": layer(name, unit), "unit": unit}
                for name, unit in PER_LAYER.items()}
    return {name: {"value": _num(named[slots[name]][0]), "unit": unit}
            for name, unit in END_TO_END.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    ctx = Ctx(args, root)
    mod = importlib.import_module(WORKLOADS[args.workload])

    canary_before = probes.canary_ms()
    cpu_before = probes.cpu_times()
    rss = probes.RssSampler().start() if ctx.trace.enabled else None
    t_run = time.perf_counter()
    try:
        res: Result = mod.run(ctx)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        if rss is not None:
            rss.stop()
        shutil.rmtree(ctx.work, ignore_errors=True)
    wall = time.perf_counter() - t_run
    steal = probes.steal_frac(cpu_before, probes.cpu_times())
    canary_after = probes.canary_ms()

    declared = NAMED[args.workload]
    got = {k: u for k, (_, u) in res.named.items()}
    if got != declared:
        raise RuntimeError(f"{args.workload} reported {got}, declared {declared}")
    named = dict(res.named)
    named["setup_s"] = (ctx.setup_s, "s")
    failed = len(res.failures) + len(res.errors)
    named["error_rate"] = (failed / max(1, res.attempted), "ratio")
    layers = dict(res.layers)
    layers.update({k: (v, "s") for k, v in ctx.setup_parts.items()})
    layers["host.canary_ms"] = ((canary_before + canary_after) / 2.0, "ms")
    layers["host.steal_frac"] = (steal, "ratio")
    if rss is not None:
        layers["mem.python_rss_peak_mb"] = (rss.py_peak, "MB")
        layers["mem.driver_rss_peak_mb"] = (rss.jvm_peak, "MB")
    layers["trace.overhead_frac"] = (ctx.trace.hook_s / wall, "ratio")
    slots = dict(SLOTS[args.workload], setup_s="setup_s")
    metrics = record_metrics(bool(args.trace), named, layers, slots)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host_facts(root),
        "slots": slots,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in sorted(named.items())},
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in sorted(layers.items())},
        "failures": res.failures[:50], "n_failures": len(res.failures),
        "errors": res.errors[:50], "n_errors": len(res.errors),
        "details": res.details,
    }
    os.makedirs(ctx.results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(ctx.results, stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if ctx.trace.enabled:
        ctx.trace.write(os.path.join(root, ".perfbench", "traces", stem + ".json"),
                        {"workload": args.workload, "seed": args.seed})
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not res.failures,
        "attempted": int(res.attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
