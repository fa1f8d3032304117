"""Measurement hooks that sit outside the engine.

Everything here observes the program through its public surface:

- :class:`Trace` keeps spans (name, start, end, parent, id) in memory
  and writes them out once, when the run ends.
- :func:`wrap` replaces a public function or method with a timed twin
  for the length of a run and puts the original back afterwards. No
  package file is edited.
- :class:`ReadGate` and :func:`serialize` keep a workload's reads out
  of the writes they would race.
- :func:`plan_phases` reads Catalyst's phase tracker from a Dataset's
  ``queryExecution``.
- :class:`StatusStore` reads jobs and stages from Spark's status store,
  which exists with the UI off.
- :class:`RssSampler` samples the resident memory of this process and of
  the driver JVM from ``/proc``.
- :func:`canary_ms` is the fixed CPU-bound calibration step.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import re
import statistics
import threading
import time


def pct(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); NaN when empty."""
    if not values:
        return math.nan
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return float(s[k])


def median(values) -> float:
    return float(statistics.median(values)) if values else math.nan


class Trace:
    """Spans for one run; a disabled trace records none."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.hook_s = 0.0  # time spent inside the hooks themselves
        self._lock = threading.Lock()

    def span(self, name: str, start: float, end: float, parent: "str | None" = None,
             id: "str | None" = None, **attrs) -> None:
        if not self.enabled:
            return
        rec = {"name": name, "start": start, "end": end, "parent": parent, "id": id}
        rec.update(attrs)
        with self._lock:
            self.spans.append(rec)

    @contextlib.contextmanager
    def hook(self):
        """Charge the enclosed work to the trace's own overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.hook_s += time.perf_counter() - t0

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the part its children cover (seconds)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_len(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s.get("id"), [])]
        ) if s.get("id") is not None else 0.0
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def union_len(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def wrap(owner, attr: str, after):
    """Replace ``owner.attr`` with a twin that calls ``after(args, kwargs,
    result, t0, t1)`` once the original returns; returns a function that
    restores the original."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def twin(*args, **kwargs):
        t0 = time.time()
        out = orig(*args, **kwargs)
        after(args, kwargs, out, t0, time.time())
        return out

    setattr(owner, attr, twin)
    return lambda: setattr(owner, attr, orig)


class ReadGate:
    """Keeps a workload's reads out of the writes they would race,
    writes first.

    Two of the program's reads are not isolated from a concurrent write
    of the files they read: ``KeyedStateSink.snapshot`` (behind ``GET
    /api/messages``) beside a merge, whose docstring asks callers that
    need a consistent view to serialize with the merge; and
    ``ivf2_topk_versioned`` beside ``ivf2_apply_cdc``, which rewrites
    the served version's cells in place. Either read can then fail with
    ``FAILED_READ_FILE``, at random. A gated workload runs each write
    inside :meth:`write` (installed by :func:`serialize`) and each read
    inside :meth:`read`: no read overlaps a write, a waiting write goes
    before the next read, and a read's wait counts in its latency."""

    def __init__(self):
        self._cond = threading.Condition()
        self._writers_waiting = 0
        self._busy = False

    @contextlib.contextmanager
    def write(self):
        with self._cond:
            self._writers_waiting += 1
            self._cond.wait_for(lambda: not self._busy)
            self._writers_waiting -= 1
            self._busy = True
        try:
            yield
        finally:
            self._release()

    @contextlib.contextmanager
    def read(self):
        with self._cond:
            self._cond.wait_for(lambda: not self._busy and not self._writers_waiting)
            self._busy = True
        try:
            yield
        finally:
            self._release()

    def _release(self) -> None:
        with self._cond:
            self._busy = False
            self._cond.notify_all()


def serialize(owner, attr: str, gate: ReadGate, waited=None):
    """Replace ``owner.attr`` with a twin that runs every call inside
    ``gate.write()`` and, if given, calls ``waited(args, kwargs, t0,
    t1)`` with the wait for the gate; returns a function that restores
    the original."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def twin(*args, **kwargs):
        t0 = time.time()
        with gate.write():
            if waited is not None:
                waited(args, kwargs, t0, time.time())
            return orig(*args, **kwargs)

    setattr(owner, attr, twin)
    return lambda: setattr(owner, attr, orig)


def plan_phases(df) -> dict:
    """Catalyst phase durations (ms) of the DataFrame's QueryExecution,
    and under ``spans`` each phase's (start, end) in epoch seconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out: dict = {"spans": {}}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        if opt.isDefined():
            out["spans"][name] = (opt.get().startTimeMs() / 1000.0, opt.get().endTimeMs() / 1000.0)
    return out


def python_nodes(df) -> int:
    """Python-evaluation nodes (UDF crossings) in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"^[\s:+\-*|]*(?:\w*Python\w*|\w*InPandas\w*|\w*InArrow\w*)\b",
                          plan, flags=re.MULTILINE))


class StatusStore:
    """Jobs and stages from Spark's status store, as plain dicts.

    One py4j call serializes the whole list through Jackson (the same
    writer Spark's REST API uses), so a read costs one round trip.
    """

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        mapper.configure(
            jvm.com.fasterxml.jackson.databind.SerializationFeature.WRITE_DATES_AS_TIMESTAMPS,
            True,
        )
        self._mapper = mapper

    def jobs(self) -> list[dict]:
        seq = self._store.jobsList(None)
        return json.loads(self._mapper.writeValueAsString(seq))

    def sql_executions(self, spark) -> list[tuple[float, float]]:
        """(start, end) in epoch seconds of every finished SQL execution."""
        seq = spark._jsparkSession.sharedState().statusStore().executionsList()
        lst = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
        out = []
        for i in range(lst.size()):
            e = lst.get(i)
            end = e.completionTime()
            if end.isDefined():
                out.append((e.submissionTime() / 1000.0, end.get().getTime() / 1000.0))
        return out

    def stages(self) -> list[dict]:
        AL = self._jvm.java.util.ArrayList
        empty = self._gw.new_array(self._jvm.double, 0)
        seq = self._store.stageList(AL(), False, False, empty, AL())
        return json.loads(self._mapper.writeValueAsString(seq))


def epoch_s(v) -> float:
    """Status-store date → epoch seconds (Jackson writes epoch ms)."""
    if v is None:
        return math.nan
    if isinstance(v, (int, float)):
        return v / 1000.0
    return math.nan


def job_summary(jobs: list[dict], stages: list[dict], group: "str | None" = None,
                since: float = -math.inf) -> dict:
    """Totals over the jobs of one job group (or all jobs submitted
    after ``since``): counts, executor run time, bytes, job spans."""
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        by_stage.setdefault(s["stageId"], []).append(s)
    sel = [
        j for j in jobs
        if (group is None or j.get("jobGroup") == group)
        and epoch_s(j.get("submissionTime")) >= since
    ]
    out = {"jobs": len(sel), "stages": 0, "tasks": 0, "run_ms": 0.0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
           "input_bytes": 0, "job_spans": []}
    seen: set[int] = set()
    for j in sel:
        out["job_spans"].append((epoch_s(j.get("submissionTime")), epoch_s(j.get("completionTime"))))
        for sid in j.get("stageIds", []):
            if sid in seen:
                continue
            seen.add(sid)
            for s in by_stage.get(sid, []):
                if s.get("status") == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(s.get("numTasks", 0))
                out["run_ms"] += float(s.get("executorRunTime", 0))
                out["shuffle_write_bytes"] += int(s.get("shuffleWriteBytes", 0))
                out["shuffle_read_bytes"] += int(s.get("shuffleReadBytes", 0))
                out["spill_bytes"] += int(s.get("memoryBytesSpilled", 0)) + int(
                    s.get("diskBytesSpilled", 0))
                out["input_bytes"] += int(s.get("inputBytes", 0))
    return out


class _OwnThreads:
    """The benchmark's own threads in this process (load generators,
    clients, samplers), whose CPU time is not the engine's: the native
    ids of the live ones, and the CPU seconds of the ones that ended."""

    def __init__(self):
        self.live: set[int] = set()
        self.ended_cpu_s = 0.0
        self.probe_cpu_s = 0.0  # CPU the readings themselves took
        self._lock = threading.Lock()

    def cpu_s(self) -> float:
        total = self.ended_cpu_s + self.probe_cpu_s
        tick = os.sysconf("SC_CLK_TCK")
        for tid in list(self.live):
            st = _stat(f"/proc/self/task/{tid}/stat")
            if st is not None:
                total += (int(st[1][11]) + int(st[1][12])) / tick
        return total


OWN_THREADS = _OwnThreads()


def own_thread(fn):
    """Mark ``fn``, a thread body, as the benchmark's own work: the CPU
    time of the thread that runs it is left out of the engine's."""

    @functools.wraps(fn)
    def body(*args, **kwargs):
        tid = threading.get_native_id()
        with OWN_THREADS._lock:
            OWN_THREADS.live.add(tid)
        try:
            return fn(*args, **kwargs)
        finally:
            with OWN_THREADS._lock:
                OWN_THREADS.live.discard(tid)
                OWN_THREADS.ended_cpu_s += time.thread_time()

    return body


class RssSampler:
    """Peak resident memory (MB) of this process and its Java children."""

    def __init__(self, period_s: float = 0.2):
        self.period = period_s
        self.py_peak = 0.0
        self.jvm_peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_mb(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out += [int(c) for c in f.read().split()]
        except OSError:
            pass
        return out

    def sample(self) -> None:
        me = os.getpid()
        self.py_peak = max(self.py_peak, self._rss_mb(me))
        jvm = sum(self._rss_mb(c) for c in self._children(me))
        self.jvm_peak = max(self.jvm_peak, jvm)

    @own_thread
    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: the host noise a run was exposed to."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def _stat(path: str) -> "tuple[str, list[str]] | None":
    """(comm, fields after comm) of a /proc stat file, None if gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


#: JVM thread-name prefixes (as /proc shows them, cut at 15 characters)
#: by the part of the engine they belong to.
_THREAD_CLASSES = (
    ("jit", ("C1 Compiler", "C2 Compiler")),
    ("gc", ("GC Thread", "G1 ", "VM Thread", "VM Periodic")),
    ("tasks", ("Executor task",)),
)


def engine_cpu_breakdown() -> dict[str, float]:
    """CPU seconds (user + system) used so far by the engine, by part:
    the driver JVM (split into ``jit``, ``gc``, ``tasks`` and ``other``
    threads), its Python workers (``workers``, reaped ones included),
    and this Python process (``driver_py``), which is also the PySpark
    driver: ``foreachBatch`` callbacks, the sink's merge orchestration,
    the socket and REST servers and Arrow assembly run here. The
    benchmark's own threads (:func:`own_thread`) are left out of
    ``driver_py``; the main thread, which calls the program, is not."""
    t_probe = time.thread_time()
    me, sid = os.getpid(), os.getsid(0)
    tick = os.sysconf("SC_CLK_TCK")
    out = {"jit": 0, "gc": 0, "tasks": 0, "other": 0, "workers": 0}
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        st = _stat(f"/proc/{name}/stat")
        if st is None or int(st[1][3]) != sid:  # field 6 of stat: session id
            continue
        comm, f = st
        out["workers"] += int(f[13]) + int(f[14])  # cutime cstime: reaped children
        if comm != "java":
            out["workers"] += int(f[11]) + int(f[12])  # utime stime
            continue
        try:
            tids = os.listdir(f"/proc/{name}/task")
        except OSError:
            continue
        for tid in tids:
            t = _stat(f"/proc/{name}/task/{tid}/stat")
            if t is None:
                continue
            part = next((c for c, prefixes in _THREAD_CLASSES if t[0].startswith(prefixes)),
                        "other")
            out[part] += int(t[1][11]) + int(t[1][12])
    res = {k: v / tick for k, v in out.items()}
    # this process: every thread, ended ones included, minus our own
    OWN_THREADS.probe_cpu_s += time.thread_time() - t_probe
    _, f = _stat("/proc/self/stat")
    res["driver_py"] = (int(f[11]) + int(f[12])) / tick - OWN_THREADS.cpu_s()
    return res


def engine_cpu_s() -> float:
    """The engine's CPU seconds without its JVM JIT compiler threads: how far
    compilation has got by a given second is warm-up, not work. Time the
    hypervisor steals is not CPU time, so this cost holds still when the
    wall clock does not."""
    return sum(v for k, v in engine_cpu_breakdown().items() if k != "jit")


def canary_ms(reps: int = 5) -> float:
    """Fixed CPU-bound step (pure-Python integer loop), best of ``reps``:
    a run taken in a slow host window shows here."""
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0
