"""Traced runs: spans around the calls into each layer's public functions.

Spans are recorded from the benchmark's side only: the tracer replaces
public functions and methods of the package's modules with wrappers, so
nested public calls (``Engine.run`` -> ``CuratedTable.upsert`` ->
``CuratedTable.commits``) nest as spans.  A layer's self time is its
span's duration minus the time its child spans cover; the workload's
root span for each op keeps what no layer claims.

One client drives the program and ``Engine.run`` waits on its step
thread, so at most one thread is inside a traced call at any time and a
single span stack is enough.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int, int]] = []
        # (op id, counter) -> amount
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._stack: list[int] = []
        self._lock = threading.Lock()
        # op id of what is being recorded: -1 during set-up, the op's
        # index during an op, -2 for the benchmark's own bookkeeping
        self.op = -1

    @contextmanager
    def span(self, name: str):
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else -1
            self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                n, t0, _, p, op = self.spans[idx]
                self.spans[idx] = (n, t0, time.perf_counter(), p, op)
                self._stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` (and every module-level alias of the same
        function in the package) with a spanned wrapper.  ``count`` maps
        (result) -> {counter: amount} for counts taken at the boundary."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if count is not None:
                for k, v in count(out).items():
                    tracer.counts[(tracer.op, k)] += v
            return out

        setattr(owner, attr, wrapper)
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "")
            if not (modname.startswith("aws_dms_to_hudi_spark") or modname == "__spark_entry__"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapper)

    def self_times(self, op_filter) -> dict[str, float]:
        """Self seconds per span name, over spans whose op passes the filter."""
        child = defaultdict(float)
        for name, t0, t1, parent, op in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if op_filter(op):
                out[name] += (t1 - t0) - child[i]
        return dict(out)

    def dump(self) -> list[dict]:
        return [{"name": n, "start": t0, "end": t1, "parent": p, "op": op}
                for n, t0, t1, p, op in self.spans]


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer."""
    from aws_dms_to_hudi_spark import artifact_time, catalog, config, engine, storage
    from aws_dms_to_hudi_spark.operators import merge
    from aws_dms_to_hudi_spark.sources import parquet_dfs

    tracer.wrap(engine.Engine, "run", "engine.run")
    tracer.wrap(config, "munge_configs", "config.munge")
    tracer.wrap(catalog.Catalog, "sync", "catalog.sync")
    src = parquet_dfs.ParquetDFSSource
    tracer.wrap(src, "list_files", "sources.list",
                count=lambda out: {"sources.files_listed": len(out)})
    tracer.wrap(src, "read_new", "sources.read_new")
    table = storage.CuratedTable
    for meth in ("upsert", "bulk_insert", "compact", "clean", "archive",
                 "read", "read_incremental"):
        tracer.wrap(table, meth, f"storage.{meth}")
    tracer.wrap(table, "commits", "storage.commits",
                count=lambda out: {"storage.manifest_reads": len(out)})
    for fn in ("precombine", "upsert_merge"):
        tracer.wrap(merge, fn, "operators.merge",
                    count=lambda out: {"operators.merge_calls": 1})

    orig_building = artifact_time.building

    @contextmanager
    def building(name):
        with tracer.span("artifacts.build"), orig_building(name):
            yield
        tracer.counts[(tracer.op, "artifacts.built")] += 1

    artifact_time.building = building


class SparkCounters:
    """Jobs, tasks, shuffle and spill of the jobs an op ran, read from the
    status tracker and status store after the listener bus drains."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.next_job = 0
        self.drain()
        while self.sc.statusTracker().getJobInfo(self.next_job) is not None:
            self.next_job += 1

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def collect(self) -> dict[str, float]:
        self.drain()
        tracker = self.sc.statusTracker()
        out = {"spark.jobs": 0, "spark.tasks": 0, "spark.shuffle_mb": 0.0, "spark.spill_mb": 0.0}
        store = self.jsc.statusStore()
        while True:
            info = tracker.getJobInfo(self.next_job)
            if info is None:
                break
            self.next_job += 1
            out["spark.jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                out["spark.tasks"] += st.numTasks()
                out["spark.shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
                out["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out

    def gc_ms(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def cached_mb(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
