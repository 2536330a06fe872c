"""Shared harness pieces: paths, environment, Spark session lifecycle,
output checks and summary statistics."""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

from spans import SPARK_COUNTERS, descendants, speed_probe, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "batch_processing_system_spark"
N_SETUPS = 5

#: every workload reports these with --trace 0. ``cpu_ref_s`` is CPU
#: time at the speed probe's reference speed (see ``spans.speed_probe``)
#: and covers one measured round (``pipeline``: all measured operations;
#: ``queries``: one pass, median of passes). Wall-clock latencies are
#: per-layer metrics: on a shared host they spread by more than any
#: usable bound.
END_TO_END = {"setup_s": "s", "cpu_ref_s": "s"}
#: per-layer metrics every workload reports with --trace 1
COMMON_PER_LAYER = {
    "engine.session_start_s": "s",
    "engine.warm_scan_s": "s",
    **{k: ("s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count")
       for k in SPARK_COUNTERS},
    "spark.parallelism": "ratio",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr; stdout carries only the result."""
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class BenchError(RuntimeError):
    """An output did not match what the generator implies."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise BenchError(what)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return statistics.median(xs)


class Context:
    """What a workload needs from the harness: paths, seed, the tracer,
    the operation tally and the Spark session lifecycle."""

    def __init__(self, seed: int, tracer):
        self.root = ROOT
        self.work = WORK
        self.seed = seed
        self.tracer = tracer
        self.cores = cores()
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def tally(self, ok: bool, what: str) -> None:
        """Count one operation; a failed one is logged and the run's
        result is marked incorrect."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")

    def setups(self, setup_once) -> list[float]:
        """Run ``setup_once(i)`` N_SETUPS times, each in a fresh session,
        and return their CPU times at the probe's reference speed, as for
        ``cpu_ref_s``: the wall time of a set-up swings with the host's
        load by more than the bound. Setup spans are traced."""
        times, walls = [], []
        self.tracer.enabled = self.tracer.installed
        for i in range(N_SETUPS):
            speed = speed_probe()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            setup_once(i)
            walls.append(time.perf_counter() - t0)
            cpu = tree_cpu_s() - c0
            times.append(cpu * (speed + speed_probe()) / 2)
        self.tracer.enabled = False
        log(f"setups: wall {[round(x, 2) for x in walls]} cpu_ref {[round(x, 2) for x in times]}")
        return times

    def fresh_session(self):
        """Stop any running session and start one through the package's
        own factory (the first call also launches the JVM)."""
        from batch_processing_system_spark.engine.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM and the Python workers it
        forked to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        children = descendants()
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in children:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the JVM it launched."""
        import resource

        from pyspark import SparkContext

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0


def prepare_env() -> None:
    """Everything the run writes stays under .perfbench_work; executor
    Python workers import the package through PYTHONPATH."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # both JVMs (spark-submit's launcher and the driver) keep their
    # temporary files here too; no perf-data file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
