"""Span tracing from outside the engine, plus Spark's own stage metrics.

The tracer wraps public functions at the namespaces their callers look them
up in (``streaming.ingest.apply_events_batch``, ``cdc.apply.resolve_lww``,
``lake.table.collect_file_stats``, ``LakeTable.merge``, ...), so no span
lives inside ``investigraph_etl_spark``. Spans (name, start, end, parent) are
kept in memory and written out at the end of a run.

The engine runs one epoch at a time: the foreachBatch callback executes on
py4j's callback thread while the thread that started the query blocks in
``awaitTermination``. One process-wide span stack therefore gives every span
its true parent.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1  # index into Tracer.spans, -1 = root

    @property
    def dur(self) -> float:
        return self.end - self.start


def _targets():
    """(owner, attribute, span name) of every wrapped function. The span
    name's first component is the layer."""
    from pyspark.sql.readwriter import DataFrameWriter

    from investigraph_etl_spark import storage
    from investigraph_etl_spark.cdc import apply
    from investigraph_etl_spark.lake import log, table
    from investigraph_etl_spark.streaming import ingest

    return [
        (ingest.IngestPipeline, "run_available_now", "streaming.run_available_now"),
        (ingest.LakeTable, "load", "lake.load"),
        (ingest, "apply_events_batch", "cdc.apply_events_batch"),
        (apply, "canonicalize_events", "cdc.plan.canonicalize_events"),
        (apply, "resolve_lww", "cdc.plan.resolve_lww"),
        (table.LakeTable, "merge", "lake.merge"),
        (table.LakeTable, "compact", "lake.compact"),
        (table, "collect_file_stats", "lake.stats.collect_file_stats"),
        (log.CommitLog, "read_state", "lake.log.read_state"),
        (log.CommitLog, "commit", "lake.log.commit"),
        (storage.LocalStorage, "list_names", "storage.list"),
        (storage.LocalStorage, "list_files", "storage.list"),
        (storage.LocalStorage, "get_bytes", "storage.get"),
        (storage.LocalStorage, "get_range", "storage.get"),
        (storage.LocalStorage, "put_bytes", "storage.put"),
        (DataFrameWriter, "parquet", "spark.write_parquet"),
    ]


class Tracer:
    """Install with :meth:`install`, switch recording with ``enabled`` and
    remove with :meth:`uninstall`. While disabled a wrapper costs one
    attribute read."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        for owner, attr, name in _targets():
            orig = owner.__dict__[attr]
            fn = orig.__func__ if isinstance(orig, classmethod) else orig
            wrapped = self._wrap(fn, name)
            setattr(owner, attr, classmethod(wrapped) if isinstance(orig, classmethod) else wrapped)
            self._saved.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self._lock:
                idx = len(self.spans)
                self.spans.append(
                    Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else -1)
                )
                self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                with self._lock:
                    self.spans[idx].end = time.perf_counter()
                    self._stack.pop()

        return wrapper


def subtree(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and every span below it (spans are appended in
    start order, so descendants follow their ancestor)."""
    inside = {root}
    for i in range(root + 1, len(spans)):
        if spans[i].parent in inside:
            inside.add(i)
    return sorted(inside)


def self_times(spans: list[Span], idx: list[int]) -> dict[int, float]:
    """Self time of each span: its duration minus its direct children's."""
    out = {i: spans[i].dur for i in idx}
    for i in idx:
        p = spans[i].parent
        if p in out:
            out[p] -= spans[i].dur
    return out


def stage_metrics(spark, t_start: float, t_end: float) -> dict:
    """Totals over the stages and jobs Spark submitted between two wall-clock
    times (``time.time()``), read from the JVM status store, which is kept
    with the UI off."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    lo, hi = int(t_start * 1000), int(t_end * 1000)
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    out = dict.fromkeys(
        ("stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes"),
        0,
    )
    for i in range(stages.size()):
        s = stages.apply(i)
        sub = s.submissionTime()
        if sub.isEmpty() or not lo <= sub.get().getTime() <= hi:
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["executor_run_s"] += s.executorRunTime() / 1e3
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["shuffle_read_bytes"] += s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["input_bytes"] += s.inputBytes()
        out["output_bytes"] += s.outputBytes()
    jobs = store.jobsList(None)
    out["jobs"] = 0
    for i in range(jobs.size()):
        sub = jobs.apply(i).submissionTime()
        if not sub.isEmpty() and lo <= sub.get().getTime() <= hi:
            out["jobs"] += 1
    return out
