"""Measurement probes: process-tree CPU and RSS from /proc, Spark's per-job
counters from the in-process status store, and the span tracer used by
the traced run.

The tracer wraps public functions of each library layer from here, at
run time, so the library itself carries no instrumentation. A lazy
function (one that only builds a DataFrame plan) gets a span that covers
plan building only; the action that later runs the plan is timed by the
caller's own span (``collection.exec`` around ``collect()``), or lands in
the caller's self time.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ host


def process_tree(root: int) -> list[int]:
    children = defaultdict(list)
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(p))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids) -> float:
    """user+sys CPU of the processes, including their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def reset_peak_rss(pids) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(pids) -> float:
    """Sum of each process's peak RSS (VmHWM) since the last reset."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _host_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


class HostProbe:
    """CPU and peak RSS of this process tree (driver, JVM, Python workers)
    over the timed phase, and the share of the machine's CPU time stolen
    by the hypervisor meanwhile (a noisy-neighbour diagnostic)."""

    def __init__(self):
        self.me = os.getpid()

    def start(self) -> None:
        pids = process_tree(self.me)
        reset_peak_rss(pids)
        self.cpu0 = tree_cpu_s(pids)
        self.ticks0 = _host_ticks()

    def stop(self) -> None:
        pids = process_tree(self.me)
        self.cpu_s = tree_cpu_s(pids) - self.cpu0
        self.peak_rss_mb = tree_peak_rss_mb(pids)
        total, steal = (b - a for a, b in zip(self.ticks0, _host_ticks()))
        self.steal_pct = 100.0 * steal / max(1, total)


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


# ----------------------------------------------------------------- spark

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "output_bytes", "driver_ms",
)


def spark_counters(spark, group: str, t0_ms: float, t1_ms: float) -> dict:
    """Per-job-group totals from the status store, which exists with the
    UI off. ``driver_ms`` is the op's wall time not covered by any
    running job of the group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_q = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    spans = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        # listener events arrive asynchronously: wait for the job to settle
        for _ in range(50):
            if job.status().toString() != "RUNNING":
                break
            time.sleep(0.02)
            job = store.job(jid)
        out["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            spans.append((job.submissionTime().get().getTime(),
                          job.completionTime().get().getTime()))
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            it = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_q).iterator()
            while it.hasNext():
                sd = it.next()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["output_bytes"] += sd.outputBytes()
    busy, end = 0.0, t0_ms
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1_ms)
        if b > a:
            busy += b - a
            end = b
    out["driver_ms"] = max(0.0, (t1_ms - t0_ms) - busy)
    return out


# ---------------------------------------------------------------- tracer


class NullTracer:
    """The untraced run: every hook is free."""

    @contextmanager
    def op(self, kind: str):
        yield

    @contextmanager
    def span(self, name: str):
        yield

    def reset(self) -> None:
        pass


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory, plus counters
    and Spark job-group counters per op. ``op`` opens a top-level span for
    one client request and tags its Spark jobs with a job group."""

    def __init__(self, spark):
        self.spark = spark
        self.reset()

    def reset(self) -> None:
        """Forget everything recorded so far (set-up and warm-up)."""
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.op_id = 0
        self.counts = defaultdict(float)
        self.spark_by_kind = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))
        self.ops_by_kind = defaultdict(int)
        self.counter_read_s = 0.0  # reading the status store after each op

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx][2] = time.perf_counter()

    @contextmanager
    def op(self, kind: str):
        self.op_id += 1
        group = f"{kind}-{self.op_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        t0 = time.time() * 1000
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            t1 = time.time() * 1000
            g0 = time.perf_counter()
            c = spark_counters(self.spark, group, t0, t1)
            for k, v in c.items():
                self.spark_by_kind[kind][k] += v
            self.ops_by_kind[kind] += 1
            sc.setJobGroup("idle", "idle")
            self.counter_read_s += time.perf_counter() - g0

    # -- wrapping library functions --------------------------------------

    def _wrapper(self, fn, name: str, error_counter: str | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                try:
                    return fn(*args, **kwargs)
                except Exception:
                    if error_counter is not None:
                        self.counts[error_counter] += 1
                    raise
        return traced

    def install(self, targets) -> None:
        """``targets``: (module, dotted attribute, span name[, counter]).
        Module-level functions are replaced in every loaded module of the
        library that bound them by ``from ... import``. The patches last
        for the life of the process."""
        for module, attr, name, *rest in targets:
            mod = importlib.import_module(module)
            owner, _, leaf = attr.rpartition(".")
            holder = functools.reduce(getattr, owner.split("."), mod) if owner else mod
            orig = getattr(holder, leaf)
            wrapped = self._wrapper(orig, name, *rest)
            setattr(holder, leaf, wrapped)
            if not owner:
                for m in list(sys.modules.values()):
                    mname = getattr(m, "__name__", "") or ""
                    if (mname.startswith(("syzgydb_spark", "examples"))
                            and getattr(m, leaf, None) is orig):
                        setattr(m, leaf, wrapped)

    # -- summaries ---------------------------------------------------------

    def durations(self) -> dict[str, list[float]]:
        """span name -> durations in ms (spans still open are skipped)."""
        out = defaultdict(list)
        for name, a, b, _p, _op in self.spans:
            if b is not None:
                out[name].append((b - a) * 1000)
        return out

    def self_times(self) -> dict[str, float]:
        """span name -> total self time in ms: duration minus the part of
        it that child spans cover."""
        child = defaultdict(float)
        for _name, a, b, parent, _op in self.spans:
            if parent >= 0 and b is not None:
                child[parent] += b - a
        out = defaultdict(float)
        for i, (name, a, b, _p, _op) in enumerate(self.spans):
            if b is not None:
                out[name] += (b - a - child[i]) * 1000
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump({
                "spans": [
                    {"name": n, "start": a, "end": b, "parent": p, "op": o}
                    for n, a, b, p, o in self.spans
                ],
                "counts": dict(self.counts),
                "spark_by_kind": {k: dict(v) for k, v in self.spark_by_kind.items()},
            }, f)
