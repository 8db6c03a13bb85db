"""Shared benchmark plumbing: statistics, host context, spans, Spark counters.

Everything here observes the engine from outside: wall clocks around
calls into its public functions, plus Spark's own bookkeeping (the
``QueryExecution`` phase tracker and the job/stage status store, keyed
by the job group each traced call runs under).
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


# --------------------------------------------------------------------------
# host context
# --------------------------------------------------------------------------


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat: str) -> tuple[int, int]:
    """(parent pid, utime + stime + cutime + cstime) of one /proc stat line."""
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    including children they have already reaped (Python workers exit).

    CPU time excludes what the hypervisor steals, so unlike wall time it
    does not move with co-tenant load on a shared host.
    """
    ppid: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid[int(name)], ticks[int(name)] = _ticks(f.read())
        except (OSError, ValueError):
            continue
    keep, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in keep:
                keep.add(c)
                frontier.append(c)
    return sum(ticks.get(p, 0) for p in keep) / _TICK


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads.

    The benchmark's JVM keeps its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of this time
    leaves with an exited thread.
    """
    total = 0
    try:
        tasks = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return 0.0
    for tid in tasks:
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:].startswith(JIT_THREADS):
            total += _ticks(stat)[1]
    return total / _TICK


def work_cpu_s(jvm: int) -> tuple[float, float]:
    """(CPU seconds of this process tree less JIT compilation, JIT seconds).

    JIT compilation runs through the whole of a short-lived JVM, and how
    much of it lands inside a timed window varies from run to run; it is
    about half the JVM's CPU in a run and was the largest source of
    run-to-run spread, so the per-op CPU metric leaves it out and the
    traced run reports it on its own.
    """
    jit = jit_cpu_s(jvm)
    return tree_cpu_s(os.getpid()) - jit, jit


# Calibration: fixed work in the JVM (generate and sort a seeded array of
# 2**17 longs) on the calling thread, timed by that thread's CPU clock.
# Co-tenant load on a shared host inflates the CPU time of all work alike,
# through shared caches, memory bandwidth and hyperthread siblings:
# rag_session's CPU per call rose from 1040 to 1760 ms over one ten-seed
# set as the host got busier. The workloads run this beside their own work
# and scale their CPU figures to the speed at which it takes CAL_REF_S. It
# runs in the JVM because a Python calibration tracked the JVM's slowdown
# less closely.
CAL_REF_S = 0.025  # the median calibration in rag_session runs on a 4-core host


def calibration_s(spark) -> float:
    """CPU seconds the JVM thread serving this Python thread takes for the
    fixed calibration work."""
    jvm = spark._jvm
    clock = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    t0 = clock.getCurrentThreadCpuTime()
    jvm.java.util.Arrays.sort(jvm.java.util.Random(0).longs(1 << 17).toArray())
    return (clock.getCurrentThreadCpuTime() - t0) / 1e9


def host_context(spark, fixture_hashes: dict[str, str], cpus_env: str | None) -> dict:
    """nproc, the caller's SPARK_GRAFT_CPUS, versions and fixture hashes."""
    jdk = spark._jvm.java.lang.System.getProperty("java.version")
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": cpus_env,
        "local_cores": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "jdk": jdk,
        "python": platform.python_version(),
        "fixtures": fixture_hashes,
    }


def nproc() -> int:
    try:
        out = subprocess.run(["nproc"], capture_output=True, text=True, check=True)
        return int(out.stdout.strip())
    except (OSError, ValueError, subprocess.CalledProcessError):
        return os.cpu_count() or 1


# --------------------------------------------------------------------------
# session lifecycle
# --------------------------------------------------------------------------


def start_session(app: str):
    """The engine's own session factory, timed by the caller."""
    from ai_iceberg_demo_spark.session import get_spark

    return get_spark(app)


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def stop_session(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if gw is not None:
            gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# tracing: spans + Spark counters per job group
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trace_id: str
    span_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans; written out once at exit.

    Disabled tracers cost one attribute check per boundary, so the
    untraced run measures the program, not the tracer.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def new_trace(self) -> str:
        return uuid.uuid4().hex[:16]

    def record(self, name: str, start: float, end: float, trace_id: str,
               parent: str | None = None, **attrs) -> str:
        span_id = uuid.uuid4().hex[:16]
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, trace_id, span_id, attrs))
        return span_id

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its children cover, summed by name (s)."""
        children: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cur = s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered)
        return out

    def dump(self, path: Path) -> None:
        if not self.enabled:
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
            f.write(json.dumps({"self_time_s": selfs}) + "\n")


def flush_listeners(spark) -> None:
    """Let the status store catch up with the listener bus."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.05)


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, tasks, executor run time and input records of ``group``'s jobs."""
    sc = spark.sparkContext
    flush_listeners(spark)
    store = sc._jsc.sc().statusStore()
    no_q = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = {"jobs": 0, "tasks": 0, "run_ms": 0.0, "input_records": 0}
    seen: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = sc.statusTracker().getJobInfo(jid)
        if job is None:
            continue
        out["jobs"] += 1
        for sid in job.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                attempts = store.stageData(sid, False, None, False, no_q)
            except Exception:
                continue  # skipped stage (shuffle reuse): no data
            for i in range(attempts.length()):
                s = attempts.apply(i)
                out["tasks"] += s.numCompleteTasks()
                out["run_ms"] += s.executorRunTime()
                out["input_records"] += s.inputRecords()
    return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return float(total)
