"""Spans for the traced run.

``Tracer`` records named spans (wall start and end) in memory and tags
the Spark jobs each span launches with a job description. Descriptions
are thread-local and the transform's sink pool threads do not inherit
one, so every wrapper sets its own in the thread it runs in. After a
pass, ``StoreReader`` reads executor time, CPU, GC, shuffle, spill and
output per description prefix from Spark's AppStatusStore, the
same py4j path ``observability.py`` uses.

``installed`` wraps module globals the pipelines resolve at call time:
``plans.ingest.write_partitioned_by``, ``plans.transform.write_rdf``
(its ``on_counted`` callback splits each sink into a count span and a
write span) and ``plans.transform.write_schema``.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Tracer:
    spark: object
    spans: list[tuple[str, float, float]] = field(default_factory=list)
    marks: dict[str, float] = field(default_factory=dict)
    values: dict[str, float] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def describe(self, text: str | None) -> None:
        self.spark.sparkContext.setJobDescription(text)

    def add(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append((name, start, end))

    def mark_once(self, name: str, t: float) -> None:
        with self._lock:
            self.marks.setdefault(name, t)

    @contextlib.contextmanager
    def span(self, name: str):
        self.describe(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, t0, time.perf_counter())
            self.describe(None)

    def reset(self) -> None:
        with self._lock:
            self.spans.clear()
            self.marks.clear()
            self.values.clear()

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name)

    def window(self, prefix: str) -> float:
        """Wall time covered from the first start to the last end of the
        spans whose name starts with ``prefix``."""
        hits = [(s, e) for n, s, e in self.spans if n.startswith(prefix)]
        return max(e for _, e in hits) - min(s for s, _ in hits) if hits else 0.0


def _disk_cache_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(infos[i].diskSize() for i in range(len(infos)))


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap the pipelines' sink entry points for the duration."""
    from dgraph_dbpedia_spark.plans import ingest as ingest_mod
    from dgraph_dbpedia_spark.plans import transform as transform_mod

    write_partitioned_by = ingest_mod.write_partitioned_by
    write_rdf = transform_mod.write_rdf
    write_schema = transform_mod.write_schema

    def traced_partitioned_by(df, *args, **kwargs):
        name = os.path.basename(kwargs["path"]).removesuffix(".parquet")
        with tracer.span(f"ingest.{name}.write"):
            return write_partitioned_by(df, *args, **kwargs)

    def traced_write_rdf(spark, df, path, persist=True, on_counted=None):
        sink = os.path.basename(path).removesuffix(".rdf")
        t0 = time.perf_counter()
        tracer.mark_once("first_sink", t0)
        if sink == "types":
            # the types sink starts once every count has filled its
            # cache: its delay is the latch park, and the caches are
            # at their largest here
            tracer.values["types_wait_s"] = t0 - tracer.marks["first_sink"]
            tracer.values["disk_cache_bytes"] = _disk_cache_bytes(spark)
        counted: list[float] = []

        def on_count() -> None:
            counted.append(time.perf_counter())
            tracer.describe(f"transform.sink.{sink}.write")
            if on_counted is not None:
                on_counted()

        tracer.describe(f"transform.sink.{sink}.count")
        try:
            return write_rdf(spark, df, path, persist, on_count)
        finally:
            t2 = time.perf_counter()
            mid = counted[0] if counted else t2
            tracer.add(f"transform.sink.{sink}.count", t0, mid)
            tracer.add(f"transform.sink.{sink}.write", mid, t2)
            tracer.describe(None)

    def traced_write_schema(df, path, indexed):
        with tracer.span("transform.schema.write"):
            return write_schema(df, path, indexed)

    ingest_mod.write_partitioned_by = traced_partitioned_by
    transform_mod.write_rdf = traced_write_rdf
    transform_mod.write_schema = traced_write_schema
    try:
        yield tracer
    finally:
        ingest_mod.write_partitioned_by = write_partitioned_by
        transform_mod.write_rdf = write_rdf
        transform_mod.write_schema = write_schema


@dataclass
class StageTotals:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_records: int = 0
    tasks: int = 0
    tasks_ok: int = 0
    peak_execution_bytes: int = 0
    jobs: int = 0

    def add_stage(self, s) -> None:
        self.run_s += s.executorRunTime() / 1e3
        self.cpu_s += s.executorCpuTime() / 1e9
        self.gc_s += s.jvmGcTime() / 1e3
        self.shuffle_write_bytes += s.shuffleWriteBytes()
        self.spill_bytes += s.diskBytesSpilled()
        self.output_records += s.outputRecords()
        ok = s.numCompleteTasks()
        self.tasks += ok + s.numFailedTasks() + s.numKilledTasks()
        self.tasks_ok += ok
        self.peak_execution_bytes = max(self.peak_execution_bytes, s.peakExecutionMemory())


class StoreReader:
    """Reads stages and jobs added to the AppStatusStore since the last
    read, grouped by job description."""

    def __init__(self, spark):
        self.spark = spark
        self.seen_stages: set[tuple[int, int]] = set()
        self.seen_jobs: set[int] = set()

    def read(self) -> dict[str, StageTotals]:
        """Description -> totals of the stages and jobs since the last read."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        out: dict[str, StageTotals] = {}
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            key = (s.stageId(), s.attemptId())
            if key in self.seen_stages or str(s.status()) not in ("COMPLETE", "FAILED"):
                continue
            self.seen_stages.add(key)
            d = s.description()
            out.setdefault(d.get() if d.isDefined() else "", StageTotals()).add_stage(s)
        jobs = store.jobsList(jvm.java.util.ArrayList())
        it = jobs.iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() in self.seen_jobs or str(j.status()) == "RUNNING":
                continue
            self.seen_jobs.add(j.jobId())
            d = j.description()
            out.setdefault(d.get() if d.isDefined() else "", StageTotals()).jobs += 1
        return out


def totals(groups: dict[str, StageTotals], prefix: str) -> StageTotals:
    """Sum of the groups whose description starts with ``prefix``."""
    t = StageTotals()
    for d, g in groups.items():
        if not d.startswith(prefix):
            continue
        for f in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                  "output_records", "tasks", "tasks_ok", "jobs"):
            setattr(t, f, getattr(t, f) + getattr(g, f))
        t.peak_execution_bytes = max(t.peak_execution_bytes, g.peak_execution_bytes)
    return t
