"""Span recorder and Spark counter reader for traced benchmark runs.

Spans are kept in memory and written out when the run ends. Each span
has a name, start, end, parent span and an op id shared by every span
of one operation (a submission, a poll tick, a micro-batch, a query).

Spark's own counters come from the AppStatusStore through py4j: the
listener bus is drained first, then the stages finished since the last
read are summed, so no package file needs editing to count them.

A traced run alternates traced and untraced cycles of the same kind.
Per-layer metrics come from the traced cycles only; the untraced ones
give the tracing overhead as the difference in wall time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.input_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
)


def _process_tree() -> dict[int, int]:
    """CPU ticks of this process and each of its descendants (the JVM and
    the Python workers it forks), including the children each reaped."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state ppid ... utime stime cutime cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        tree[pid] = procs.get(pid, (0, 0))[1]
        todo.extend(children[pid])
    return tree


def descendants() -> list[int]:
    return [pid for pid in _process_tree() if pid != os.getpid()]


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of ``pid`` (none unless it
    is a JVM). The harness keeps those threads alive for the whole run
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of their time
    is lost with an exited thread."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants, less
    the JVM's JIT compiler threads. Unlike wall time, it leaves out time
    the CPUs were taken by other tenants of the machine; JIT compilation
    of Spark's generated code is warm-up whose amount swings from run to
    run with the timing of the compiler's profiles."""
    tree = _process_tree()
    ticks = sum(tree.values()) - sum(_jit_ticks(pid) for pid in tree if pid != os.getpid())
    return ticks / os.sysconf("SC_CLK_TCK")


#: thread CPU seconds one probe loop takes on an idle 4-vCPU cloud VM
PROBE_REF_S = 0.025


def _probe_once(n: int = 300_000) -> float:
    t0 = time.thread_time()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.thread_time() - t0


def speed_probe() -> float:
    """How fast the CPUs run right now, as a factor to multiply CPU times
    by: ``PROBE_REF_S`` over the mean CPU time of a fixed pure-Python
    loop run once on each CPU this process may use. On a shared host the
    same work takes up to twice the CPU time while other tenants load
    the cores, not always all of them alike; the probe slows down with
    it, and no change to the package can change the probe."""
    mine = os.sched_getaffinity(0)
    loops = []
    try:
        for cpu in sorted(mine):
            os.sched_setaffinity(0, {cpu})  # this thread only
            loops.append(_probe_once())
    finally:
        os.sched_setaffinity(0, mine)
    return PROBE_REF_S / statistics.fmean(loops)


class SparkCounters:
    """Cumulative counters of stages finished since construction."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._bus.waitUntilEmpty()
        self._last_stage = self._newest_stage_id()
        self._last_job = self._newest_job_id()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def _newest_stage_id(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def read(self) -> dict[str, float]:
        """Counters of the stages and jobs finished since the last read.
        The store lists stages newest first, so only new ones are touched."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        stages = self._stages()
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numTasks()
            out["spark.failed_tasks"] += s.numFailedTasks()
            out["spark.task_run_s"] += s.executorRunTime() / 1e3
            out["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.gc_s"] += s.jvmGcTime() / 1e3
            out["spark.input_mb"] += s.inputBytes() / 1e6
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        self._last_stage = newest
        job = self._newest_job_id()
        out["spark.jobs"] = float(job - self._last_job)
        self._last_job = job
        return out


class Tracer:
    """Records spans and per-cycle sums.

    ``installed`` is fixed for the run (``--trace``); ``enabled`` says
    whether the current cycle is traced. A span outside a traced cycle
    costs one branch.
    """

    def __init__(self, installed: bool):
        self.installed = installed
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_root: int | None = None
        self._op_id: str | None = None
        self._counters: SparkCounters | None = None
        self._cycle: dict[str, float] = defaultdict(float)
        self._kind: str | None = None
        self._n_kind: dict[str, int] = defaultdict(int)
        self._t_cycle = 0.0
        self._cpu_cycle = 0.0
        self._speeds: list[float] = []
        self._probe_cpu = self._probe_wall = 0.0
        self.speed = 1.0  # mean speed probe of the last cycle
        self.cycles: list[dict] = []

    # --- spans ---------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        """Time a block. A span with ``op_id`` starts an operation: spans
        opened on any thread while it runs (the HTTP handler thread, the
        stream's micro-batch thread) share its op id and hang under it.
        Operation spans also carry the Spark counters of their work."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._op_root
        if op_id is not None:
            if self._counters is not None:
                self._counters.read()  # drop work done outside any operation
            self._op_root, self._op_id = sid, op_id
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "op": self._op_id}
            with self._lock:
                self._cycle[name + "_s"] += end - start
                if op_id is not None:
                    self._op_root = self._op_id = None
                    if self._counters is not None:
                        counts = self._counters.read()
                        rec["counters"] = counts
                        for k, v in counts.items():
                            self._cycle[k] += v
                self.spans.append(rec)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self._cycle[name] += value

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a spanned call. ``owner`` is the module
        or class whose namespace the caller resolves the name in."""
        if not self.installed:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # --- cycles --------------------------------------------------------

    def attach_spark(self, spark) -> None:
        if self.installed:
            self._counters = SparkCounters(spark)

    def begin_cycle(self, kind: str) -> None:
        """Start one unit of repeated work. In a traced run every other
        cycle of a kind is traced, starting with the first."""
        self._kind = kind
        self.enabled = self.installed and self._n_kind[kind] % 2 == 0
        self._n_kind[kind] += 1
        with self._lock:
            self._cycle.clear()
        self._speeds = [speed_probe()]
        self._probe_cpu = self._probe_wall = 0.0
        self._cpu_cycle = tree_cpu_s()
        self._t_cycle = time.perf_counter()

    def probe(self) -> None:
        """Sample the speed probe inside a long cycle, so the cycle's speed
        follows the load as it changes. The probe's own wall and CPU time
        are left out of the cycle's."""
        w0, c0 = time.perf_counter(), time.thread_time()
        self._speeds.append(speed_probe())
        self._probe_cpu += time.thread_time() - c0
        self._probe_wall += time.perf_counter() - w0

    def end_cycle(self, cores: int) -> tuple[float, float, bool]:
        """Close the cycle; return its wall time, the CPU time of the
        process tree scaled by the mean of the speed probes taken from its
        start to its end, and whether it was traced."""
        wall = time.perf_counter() - self._t_cycle - self._probe_wall
        cpu = tree_cpu_s() - self._cpu_cycle - self._probe_cpu
        self._speeds.append(speed_probe())
        self.speed = statistics.fmean(self._speeds)
        cpu *= self.speed
        traced = self.enabled
        if self.installed:
            with self._lock:
                cyc = dict(self._cycle)
                self._cycle.clear()
            cyc["spark.parallelism"] = cyc.get("spark.task_run_s", 0.0) / (wall * cores)
            self.cycles.append({"kind": self._kind, "traced": self.enabled,
                                "wall": wall, "sums": cyc})
        self.enabled = False
        return wall, cpu, traced

    def _traced(self, kind: str | None) -> list[dict]:
        return [c["sums"] for c in self.cycles
                if c["traced"] and (kind is None or c["kind"] == kind)]

    def median(self, kind: str, key: str) -> float:
        """Median over the traced cycles of ``kind`` of the per-cycle sum."""
        vals = [c.get(key, 0.0) for c in self._traced(kind)]
        return statistics.median(vals) if vals else 0.0

    def mean(self, key: str) -> float:
        """Mean per traced cycle of every kind (for the Spark counters)."""
        vals = [c.get(key, 0.0) for c in self._traced(None)]
        return statistics.fmean(vals) if vals else 0.0

    def total(self, key: str) -> float:
        """Sum over every traced cycle."""
        return sum(c.get(key, 0.0) for c in self._traced(None))

    def overhead_s(self) -> float:
        """Estimated measured wall time of a fully traced run minus that
        of an untraced one: per kind, the median traced-minus-untraced
        cycle wall times the number of cycles of that kind. Kinds that
        ran only once, and so only traced, are left out."""
        total = 0.0
        for kind in {c["kind"] for c in self.cycles}:
            of = [c for c in self.cycles if c["kind"] == kind]
            on = [c["wall"] for c in of if c["traced"]]
            off = [c["wall"] for c in of if not c["traced"]]
            if on and off:
                total += (statistics.median(on) - statistics.median(off)) * len(of)
        return total

    def span_median(self, name: str) -> float:
        """Median duration of the spans called ``name``."""
        durs = [r["end"] - r["start"] for r in self.spans if r["name"] == name]
        return statistics.median(durs) if durs else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
