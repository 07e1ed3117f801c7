"""Tracing for the benchmark's traced mode, from outside the engine.

Spans (name, start, end, parent span, trace id) are kept in memory and
written out when the run ends; spans of one operation or one
micro-batch share a trace id. ``patch_engine`` wraps the engine's
source and bucketing entry points in spans by rebinding module
attributes at run time; no engine file changes. The other helpers read
counters the engine or Spark already keep: ``PlanCache`` entry counts,
Spark job/stage info per job group, the Spark event log, and ``/proc``.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ENGINE = "clickhouse_aggregation_spark"

# engine attribute name -> span name
PATCHED = {
    "load_table": "sources.load_table",
    "transfers_df": "sources.transfers_df",
    "block_range_day": "functions.bucketing",
    "block_hour": "functions.bucketing",
    "size_bucket": "functions.bucketing",
    "to_day": "functions.bucketing",
}


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "trace": parent["trace"] if parent else sid,
               "start": time.perf_counter()}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self milliseconds. Self time
        is the span's duration minus the union of its children's
        intervals."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict] = defaultdict(
            lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            agg = out[s["name"]]
            agg["count"] += 1
            agg["total_ms"] += (s["end"] - s["start"]) * 1e3
            agg["self_ms"] += (s["end"] - s["start"] - covered) * 1e3
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def engine_modules():
    return [m for n, m in list(sys.modules.items())
            if m is not None and (n == ENGINE or n.startswith(ENGINE + "."))]


def patch_engine(tracer: Tracer) -> None:
    """Wrap every module-level binding of the ``PATCHED`` functions."""
    originals = {}
    for mod in engine_modules():
        for attr in PATCHED:
            fn = mod.__dict__.get(attr)
            if callable(fn) and getattr(fn, "__module__", "").startswith(ENGINE):
                originals.setdefault((fn.__module__, attr), fn)
    wrapped = {key: tracer.wrap(PATCHED[key[1]], fn)
               for key, fn in originals.items()}
    for mod in engine_modules():
        for attr in PATCHED:
            fn = mod.__dict__.get(attr)
            key = (getattr(fn, "__module__", None), attr)
            if key in wrapped and originals[key] is fn:
                setattr(mod, attr, wrapped[key])


def plan_caches() -> list:
    """Every ``PlanCache`` held at module level in the engine."""
    from clickhouse_aggregation_spark.caches import PlanCache
    seen, out = set(), []
    for mod in engine_modules():
        for v in list(mod.__dict__.values()):
            if isinstance(v, PlanCache) and id(v) not in seen:
                seen.add(id(v))
                out.append(v)
    return out


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def event_log_totals(log_dir: str) -> dict[str, float]:
    """Task-metric totals from the newest Spark event log in ``log_dir``."""
    entries = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    tot = {"shuffle_bytes": 0.0, "spill_bytes": 0.0, "gc_ms": 0.0,
           "executor_cpu_s": 0.0}
    if not entries:
        return tot
    newest = max(entries, key=os.path.getmtime)
    # Spark 4 writes one directory per application (rolling event log)
    files = ([os.path.join(newest, f) for f in sorted(os.listdir(newest))
              if f.startswith("events_")]
             if os.path.isdir(newest) else [newest])
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                tm = json.loads(line).get("Task Metrics") or {}
                tot["shuffle_bytes"] += tm.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                tot["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
                tot["gc_ms"] += tm.get("JVM GC Time", 0)
                tot["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    return tot


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return kids


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM child."""
    me = os.getpid()
    kb = _vm_hwm_kb(me)
    for kid in _children(me):
        try:
            with open(f"/proc/{kid}/comm") as f:
                if f.read().strip() == "java":
                    kb += _vm_hwm_kb(kid)
        except OSError:
            pass
    return kb / 1024.0


def retained_mb(spark) -> float:
    """Memory the session keeps: JVM heap + non-heap in use right after a
    full collection, plus this process's current resident set."""
    import gc
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed())
    rss_kb = 0
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                rss_kb = int(line.split()[1])
    return used / 2**20 + rss_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
