"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 18 --trace 0

Run from the repository root. Each run, in one process:

1. set-up: start the Spark session (``session.get_spark``) and generate
   the seeded inputs; ``setup_s`` is the process's age at the end;
2. backfill: ``run_maintainer_stream(available_now=True)`` drains the
   pre-landed backlog into all seven rollups (``ingest_rows_per_s``);
3. live phase: the stream tails the directory, with compaction every
   ``COMPACT_EVERY`` epochs from the batch callback. One closed-loop
   client runs the workload's operation mix: first one cold pass right
   after ``caches.clear_plan_caches()`` (``cold_pass_s``), with nothing
   landing; then warm passes in a seeded order, while a generator
   thread lands one small file every ``TAIL_INTERVAL_S`` for
   ``--seconds`` (open loop, a fixed number of files), until every
   landed file is committed (``warm_pass_ms``: the sum over operations
   of each one's median latency; ``op_p90_ms``). Freshness is measured
   per landed file, from its scheduled landing time to the commit of
   the micro-batch holding it;
4. correctness gate (untimed): store == recompute, the reorg invariant,
   and every registry result against its DuckDB oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``; the traced run also writes its
spans and per-layer detail under ``perfbench/out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import (Tracer, event_log_totals, job_counts,  # noqa: E402
                     patch_engine, peak_rss_mb, plan_caches, process_age_s,
                     retained_mb)

# Open-loop arrival interval of live-tail files. Beside the client's
# reads a live micro-batch takes 2-2.5 s, and 4-7 s when it compacts:
# longer than any interval that leaves a run enough files. A batch then
# takes every file landed while the one before it ran, so the backlog
# stays bounded (bench.backlog_max_files in the traced run) instead of
# growing.
TAIL_INTERVAL_S = 1.0
COMPACT_EVERY = 4          # compact all rollups every K live epochs
DRAIN_TIMEOUT_S = 60.0


def log(msg: str) -> None:
    print(f"perfbench [{process_age_s():7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def percentile(values, q):
    import numpy as np
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values):
    return statistics.median(values) if values else 0.0


def prepare_env(root: str, work: str) -> None:
    """Runner hygiene: engine importable by Python workers, Spark sized
    to the machine, every temporary file inside the checkout."""
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("ORACLE_MEMORY_LIMIT", "1GB")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile
    tempfile.tempdir = tmp


class RollupProxy:
    """Stands in for an ``IncrementalRollup`` in the maintainer's public
    ``rollups`` argument: times ``process_batch`` and, after the last
    rollup of every ``compact_every``-th epoch, compacts all rollups —
    the way a deployment schedules compaction with today's API."""

    def __init__(self, rollup, hub, last: bool):
        self._r, self._hub, self._last = rollup, hub, last

    def __getattr__(self, name):
        return getattr(self._r, name)

    def process_batch(self, batch, root, epoch_id=0):
        hub = self._hub
        if not hub.batch_span:
            hub.open_batch()
        t = time.perf_counter()
        with hub.tracer.span(f"maintainer.process_batch.{self._r.name}"):
            self._r.process_batch(batch, root, epoch_id)
        hub.batch_ms.setdefault(self._r.name, []).append(
            (time.perf_counter() - t) * 1e3)
        if self._last:
            if hub.compact_every and (epoch_id + 1) % hub.compact_every == 0:
                hub.compact(root)
            hub.close_batch()


class MaintainerHub:
    """State shared by the proxies of one store."""

    def __init__(self, spark, rollups, tracer, lock, compact_every=0):
        self.spark, self.tracer, self.lock = spark, tracer, lock
        self.compact_every = compact_every
        self.rollups = rollups
        self.proxies = tuple(RollupProxy(r, self, i == len(rollups) - 1)
                             for i, r in enumerate(rollups))
        self.batch_ms: dict[str, list] = {}
        self.compact_ms: list[float] = []
        self.batch_span = None

    def open_batch(self):
        self.batch_span = self.tracer.span("maintainer.batch")
        self.batch_span.__enter__()

    def close_batch(self):
        if self.batch_span:
            self.batch_span.__exit__(None, None, None)
        self.batch_span = None

    def compact(self, root):
        t = time.perf_counter()
        with self.lock, self.tracer.span("maintainer.compact"):
            for r in self.rollups:
                r.compact(self.spark, root)
        self.compact_ms.append((time.perf_counter() - t) * 1e3)


class Lander(threading.Thread):
    """Open-loop generator: lands tail file i at ``t0 + i * interval``,
    whatever the engine is doing."""

    def __init__(self, tables, src_dir, interval):
        super().__init__(daemon=True)
        self.tables, self.src_dir, self.interval = tables, src_dir, interval
        self.stop_event = threading.Event()
        self.landed: list[tuple[str, float, float, int]] = []  # name, due, at, rows
        self.error = None

    def run(self):
        from inputs import land
        t0 = time.time()
        try:
            for i, table in enumerate(self.tables):
                due = t0 + i * self.interval
                if self.stop_event.wait(max(0.0, due - time.time())):
                    return
                name = f"tail-{i:04d}"
                land(table, self.src_dir, name)
                self.landed.append((name, due, time.time(), table.num_rows))
        except Exception as exc:  # reported as a failed operation
            self.error = exc


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's offset log."""
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for fname in os.listdir(log_dir):
        if fname.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, fname)) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            out[os.path.basename(e["path"]).rsplit(".", 1)[0]] = e["batchId"]
    return out


def all_committed(landed, checkpoint: str) -> bool:
    batches, commits = file_batches(checkpoint), commit_times(checkpoint)
    return all(batches.get(name) in commits for name, *_ in landed)


def commit_times(checkpoint: str) -> dict[int, float]:
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(f): os.stat(os.path.join(d, f)).st_mtime
            for f in os.listdir(d) if f.isdigit()}


class Client:
    """The closed-loop client: runs ops one after another and records
    latency, failures and (traced) per-layer counters."""

    def __init__(self, spark, sf_dir, tracer, lock, store):
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.lock, self.store = lock, store
        self.latency_ms: list[float] = []
        self.by_op: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.results: dict = {}
        self.layer: dict = {}
        self.caches = plan_caches() if tracer.enabled else []

    def _count(self, key, value):
        self.layer[key] = self.layer.get(key, 0.0) + value

    def run_op(self, op, record=True):
        self.attempted += 1
        sc = self.spark.sparkContext
        traced = self.tracer.enabled
        if traced:
            group = f"perfbench-op-{self.attempted}"
            sc.setJobGroup(group, op.name)
            cached0 = sum(len(c) for c in self.caches)
            if op.store_read:
                self.sample_store()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{op.name}"):
                if op.store_read:
                    self.lock.acquire()
                try:
                    with self.tracer.span(f"{op.layer}.plan_build"):
                        df = op.build(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with self.tracer.span(f"{op.layer}.execute"):
                        pdf = df.toPandas()
                finally:
                    if op.store_read:
                        self.lock.release()
        except Exception as exc:  # a failed op is counted, never retried
            self.failed += 1
            self.errors.append(f"{op.name}: {type(exc).__name__}: "
                               f"{str(exc).splitlines()[0][:200]}")
            return None
        t2 = time.perf_counter()
        if record:
            self.latency_ms.append((t2 - t0) * 1e3)
            self.by_op.setdefault(op.name, []).append((t2 - t0) * 1e3)
        if op.oracle is not None:
            self.results[op.name] = (pdf, op.oracle)
        if traced:
            jobs, tasks = job_counts(sc, group)
            new_entries = sum(len(c) for c in self.caches) - cached0
            self._count("ops", 1)
            self._count("jobs", jobs)
            self._count("tasks", tasks)
            self._count("cache_misses", max(0, new_entries))
            self._count("cache_hit_ops", 1 if new_entries <= 0 else 0)
            self._count("plan_build_ms", (t1 - t0) * 1e3)
            self._count("execute_ms", (t2 - t1) * 1e3)
            self._count(f"{op.layer}.busy_s", t2 - t0)
        return t2 - t0

    def sample_store(self):
        """Partial files and bytes in the rollup directories, under the
        store lock so no compaction swap runs meanwhile."""
        from clickhouse_aggregation_spark.streaming.maintainer import (
            INCREMENTAL_ROLLUPS)
        files = size = 0
        with self.lock:
            for r in INCREMENTAL_ROLLUPS:
                for dirpath, _dirs, filenames in os.walk(r.store(self.store)):
                    for f in filenames:
                        if f.endswith(".parquet"):
                            files += 1
                            size += os.path.getsize(os.path.join(dirpath, f))
        self.layer.setdefault("store_files", []).append(files)
        self.layer.setdefault("store_bytes", []).append(size)


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it, so no process
    of this run outlives it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()          # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def start_session(conf):
    from clickhouse_aggregation_spark.session import get_spark
    return get_spark("perfbench", extra_conf=conf)


def run(args, work: str) -> dict:
    import numpy as np

    import inputs as gen
    import mixes
    from checks import check_oracles, check_store

    tracer = Tracer(bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    event_dir = os.path.join(work, "eventlog")
    if tracer.enabled:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})

    # ---- set-up: process start to the first timed operation -----------
    with tracer.span("session.start"):
        spark = start_session(conf)
    session_start_s = process_age_s()
    inp = gen.generate(os.path.join(work, "inputs"), args.seed)
    setup_s = process_age_s()
    log(f"set-up done: session start {session_start_s:.2f}s")

    from clickhouse_aggregation_spark.caches import clear_plan_caches
    from clickhouse_aggregation_spark.streaming.maintainer import (
        INCREMENTAL_ROLLUPS, run_maintainer_stream)
    if tracer.enabled:
        import clickhouse_aggregation_spark.operators  # noqa: F401  (all modules)
        patch_engine(tracer)

    store = os.path.join(work, "store")
    checkpoint = os.path.join(store, "_checkpoint")
    lock = threading.Lock()
    attempted = failed = 0
    errors: list[str] = []

    # ---- backfill ------------------------------------------------------
    hub = MaintainerHub(spark, INCREMENTAL_ROLLUPS, tracer, lock)
    backfill_rows = sum(t.num_rows for t in inp.backfill)
    t = time.perf_counter()
    q = run_maintainer_stream(spark, inp.src_dir, store, rollups=hub.proxies,
                              available_now=True)
    q.awaitTermination()
    ingest_s = time.perf_counter() - t
    backfill_batches = len(commit_times(checkpoint))
    log(f"backfill: {backfill_rows} rows in {ingest_s:.2f}s")
    attempted += max(backfill_batches, 1)
    if q.exception() is not None or backfill_batches == 0:
        failed += 1
        errors.append(f"backfill stream: {q.exception()}")

    # ---- live phase ----------------------------------------------------
    live = MaintainerHub(spark, INCREMENTAL_ROLLUPS, tracer, lock,
                         compact_every=COMPACT_EVERY)
    q = run_maintainer_stream(spark, inp.src_dir, store, rollups=live.proxies,
                              available_now=False)
    deadline = time.time() + 30
    while q.lastProgress is None and q.isActive and time.time() < deadline:
        time.sleep(0.05)

    rng = np.random.default_rng(args.seed + 1)
    ops = mixes.MIXES[args.workload](rng, store, inp.days, inp.hot_addresses)
    client = Client(spark, inp.sf_dir, tracer, lock, store)
    clear_plan_caches()
    t = time.perf_counter()
    cold = [client.run_op(op, record=False) for op in ops]
    cold_pass_s = time.perf_counter() - t
    log(f"cold pass: {len(ops)} ops in {cold_pass_s:.2f}s: "
        + ", ".join(f"{op.name}={c or 0:.2f}" for op, c in zip(ops, cold)))

    # warm window: a fixed number of files lands on a fixed schedule
    # while the client reads; it keeps reading until all are committed
    n_tail = min(len(inp.tail), max(1, round(args.seconds / TAIL_INTERVAL_S)))
    lander = Lander(inp.tail[:n_tail], inp.src_dir, TAIL_INTERVAL_S)
    lander.start()
    deadline = time.time() + args.seconds + DRAIN_TIMEOUT_S
    while time.time() < deadline and q.isActive:
        for i in rng.permutation(len(ops)):
            client.run_op(ops[i])
        if not lander.is_alive() and all_committed(lander.landed, checkpoint):
            break
    lander.stop_event.set()
    lander.join()
    log(f"warm passes: {len(client.latency_ms)} ops; per-op median ms: "
        + json.dumps({k: round(median(v), 1)
                      for k, v in sorted(client.by_op.items())}))

    tracing_overhead = None
    if tracer.enabled:
        # same ops, same process: passes with spans, job groups and
        # cache counting on (A) and off (B), in the order A B B A so a
        # drift in speed cancels
        sums = {True: 0.0, False: 0.0}
        for on in (True, False, False, True):
            tracer.enabled = on
            sums[on] += sum(client.run_op(op, record=False) or 0
                            for op in ops)
        tracing_overhead = sums[True] / sums[False] if sums[False] else 0.0

    progress = list(q.recentProgress)
    q.stop()
    landed = {name: (due, at, rows) for name, due, at, rows in lander.landed}
    batches, commits = file_batches(checkpoint), commit_times(checkpoint)
    live_batches = len(commits) - backfill_batches
    attempted += max(live_batches, 1) + n_tail
    if q.exception() is not None or lander.error is not None:
        failed += 1
        errors.append(f"live stream: {q.exception() or lander.error}")
    if len(landed) < n_tail:
        failed += n_tail - len(landed)
        errors.append(f"{n_tail - len(landed)} tail files never landed")

    fresh = []
    for name, (due, at, rows) in landed.items():
        b = batches.get(name)
        if b in commits:
            fresh.append(commits[b] - due)
        else:
            failed += 1
            errors.append(f"{name} never committed")
    peak_mb = peak_rss_mb()
    kept_mb = retained_mb(spark)
    if tracer.enabled:
        client.sample_store()
    log(f"live phase done: {live_batches} batches, {len(landed)} files, "
        f"peak rss {peak_mb:.0f} MB, retained {kept_mb:.0f} MB")

    # ---- correctness gate (untimed) --------------------------------------
    attempted += client.attempted
    failed += client.failed
    errors += client.errors
    n_checks, problems = check_store(spark, store, inp.src_dir)
    log("store gate done")
    problems += check_oracles(client.results, inp.sf_dir)
    attempted += n_checks + len(client.results)
    failed += len(problems)
    errors += problems
    correct = not problems and failed == 0 and len(fresh) > 0

    log(f"correctness gate done: {len(problems)} problems")
    stop_jvm(spark)
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)

    if not tracer.enabled:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ingest_rows_per_s": (backfill_rows / ingest_s, "rows/s"),
            "freshness_p50_s": (percentile(fresh, 50) if fresh else -1, "s"),
            "freshness_p90_s": (percentile(fresh, 90) if fresh else -1, "s"),
            "cold_pass_s": (cold_pass_s, "s"),
            # a pooled median jumps between the latency clusters of a
            # mixed set of operations; per-operation medians do not
            "warm_pass_ms": (sum(median(v) for v in client.by_op.values())
                             if client.by_op else -1, "ms"),
            "op_p90_ms": (percentile(client.latency_ms, 90)
                          if client.latency_ms else -1, "ms"),
            "retained_mb": (kept_mb, "MB"),
        }
    else:
        metrics = layer_metrics(
            tracer, client, live, progress, batches, commits, landed,
            event_log_totals(event_dir), session_start_s, tracing_overhead,
            peak_mb)
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
        tracer.write(stem + "-spans.json")
        # per tail file, in seconds from the first scheduled landing:
        # evidence that the open loop kept its schedule and the backlog
        # stayed bounded
        t0 = min((due for due, _at, _r in landed.values()), default=0.0)
        timeline = [{"file": n, "due": due - t0, "landed": at - t0,
                     "batch": batches.get(n),
                     "committed": commits.get(batches.get(n), t0) - t0}
                    for n, (due, at, _r) in sorted(landed.items())]
        with open(stem + "-layers.json", "w") as f:
            json.dump({"self_times": tracer.self_times(),
                       "metrics": {k: v for k, (v, _u) in metrics.items()},
                       "fresh_s": fresh,
                       "op_latency_ms": client.latency_ms,
                       "live_timeline": timeline}, f, indent=1)
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def layer_metrics(tracer, client, live, progress, batches, commits, landed,
                  ev, session_start_s, tracing_overhead, peak_mb):
    L = client.layer
    ops = max(L.get("ops", 0), 1)
    self_t = tracer.self_times()

    def per_op(key):
        return L.get(key, 0.0) / ops

    rows_in_batch: dict[int, int] = {}
    for name, (_due, _at, rows) in landed.items():
        b = batches.get(name)
        if b is not None:
            rows_in_batch[b] = rows_in_batch.get(b, 0) + rows
    overhead = [p["durationMs"]["triggerExecution"]
                - p["durationMs"].get("addBatch", 0)
                for p in progress if p["numInputRows"] > 0]
    lag = [at - due for _n, (due, at, _r) in landed.items()]
    landed_at = sorted(at for _n, (_d, at, _r) in landed.items())
    backlog = 0
    for t in landed_at:
        pending = sum(1 for n, (_d, at, _r) in landed.items()
                      if at <= t and commits.get(batches.get(n), 1e18) > t)
        backlog = max(backlog, pending)

    m = {
        "session.start_s": (session_start_s, "s"),
        "session.peak_rss_mb": (peak_mb, "MB"),
        "sources.plan_build_ms": (
            (self_t.get("sources.load_table", {}).get("total_ms", 0.0)
             + self_t.get("sources.transfers_df", {}).get("self_ms", 0.0))
            / ops, "ms"),
        "functions.bucketing_calls": (
            self_t.get("functions.bucketing", {}).get("count", 0), "count"),
        "operators.plan_build_ms": (per_op("plan_build_ms"), "ms"),
        "operators.execute_ms": (per_op("execute_ms"), "ms"),
    }
    for layer in ("operators.reference", "operators.dedup",
                  "operators.similarity", "operators.text",
                  "operators.pipeline", "operators.contamination",
                  "plans.tiering", "maintainer.read"):
        m[f"{layer}.busy_s"] = (L.get(f"{layer}.busy_s", 0.0), "s")
    m.update({
        "spark.jobs_per_op": (per_op("jobs"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "spark.shuffle_bytes": (ev["shuffle_bytes"], "bytes"),
        "spark.spill_bytes": (ev["spill_bytes"], "bytes"),
        "spark.gc_ms": (ev["gc_ms"], "ms"),
        "spark.executor_cpu_s": (ev["executor_cpu_s"], "s"),
    })
    for name in sorted(r.name for r in live.rollups):
        m[f"maintainer.process_batch_ms.{name}"] = (
            median(live.batch_ms.get(name, [])), "ms")
    m.update({
        "maintainer.trigger_overhead_ms": (median(overhead), "ms"),
        "maintainer.rows_per_batch": (median(list(rows_in_batch.values())),
                                      "rows"),
        "maintainer.compact_ms": (median(live.compact_ms), "ms"),
        "maintainer.store_files": (median(L.get("store_files", [])), "count"),
        "maintainer.store_bytes": (median(L.get("store_bytes", [])), "bytes"),
        "caches.misses": (L.get("cache_misses", 0.0), "count"),
        "caches.hit_ratio": (L.get("cache_hit_ops", 0.0) / ops, "ratio"),
        "bench.generator_lag_max_s": (max(lag) if lag else 0.0, "s"),
        "bench.backlog_max_files": (backlog, "count"),
        "bench.tracing_overhead": (tracing_overhead or 0.0, "ratio"),
    })
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("dashboard", "corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "clickhouse_aggregation_spark")):
        print("perfbench: run from the repository root (engine package "
              "clickhouse_aggregation_spark not found)", file=sys.stderr)
        return 2
    # a SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench_tmp",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(root, work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
