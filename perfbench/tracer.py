"""Spans around the program's layer entry points, with Spark counters.

The wrappers live here, in the benchmark, and are installed by patching
the public functions of each layer; the program's own files are not
touched. A span records its name, start, end and parent in memory. Each
span runs its Spark jobs under a job group of its own, so after the
timed region the status store tells which jobs, stages, task time,
shuffle and spill each span caused ("self" counters: a job belongs to
the innermost open span when it was submitted).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    value: object = None  # what the wrapped call returned

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``bookkeeping_s`` is the time spent in the
    tracer itself inside wrapped calls (the part of the overhead that
    lands in timed regions)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._open[-1].id if self._open else None
        sp = Span(len(self.spans) + len(self._open), name, parent, 0.0)
        self.sc.setJobGroup(sp.group, name)
        self._open.append(sp)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1].group, self._open[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def attach_counters(self, spans: list[Span]) -> None:
        """Read the status store for ``spans`` (call outside timed code)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        empty = jvm.java.util.Collections.emptyList()
        stages = {}
        it = jsc.statusStore().stageList(
            empty, False, False, self.sc._gateway.new_array(jvm.double, 0), empty
        ).iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            acc = stages.setdefault(s.stageId(), [0, 0, 0, 0, 0])
            acc[0] += s.executorRunTime()
            acc[1] += s.shuffleWriteBytes()
            acc[2] += s.diskBytesSpilled()
            acc[3] += s.inputBytes()
            acc[4] += s.inputRecords()
        tracker = self.sc.statusTracker()
        for sp in spans:
            jobs = tracker.getJobIdsForGroup(sp.group)
            ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    ids.update(info.stageIds)
            got = [stages[i] for i in ids if i in stages]
            sp.counters = {
                "jobs": len(jobs),
                "stages": len(got),
                "task_s": sum(g[0] for g in got) / 1000.0,
                "shuffle_write_bytes": sum(g[1] for g in got),
                "spill_bytes": sum(g[2] for g in got),
                "input_bytes": sum(g[3] for g in got),
                "input_records": sum(g[4] for g in got),
            }


def self_time(sp: Span, spans: list[Span]) -> float:
    """Duration minus the part of it covered by direct children (children
    of one span never overlap: calls are synchronous)."""
    return sp.dur - sum(c.dur for c in spans if c.parent == sp.id)


def children_of(root: Span, spans: list[Span]) -> list[Span]:
    """Every span below ``root`` (transitively), in record order."""
    below, ids = [], {root.id}
    for sp in sorted(spans, key=lambda s: s.start):
        if sp.parent in ids:
            ids.add(sp.id)
            below.append(sp)
    return below


# ------------------------------------------------------------- wrappers


def _targets():
    """(owner, attribute, span name or name function) for each layer
    entry point the job and the read surface call."""
    from grafink_spark import gremlin as gremlin_mod
    from grafink_spark import id_manager as id_mod
    from grafink_spark.graph import algorithms
    from grafink_spark.graph.catalog import GraphCatalog
    from grafink_spark.graph.storage import GraphStore
    from grafink_spark.job import Job
    from grafink_spark.rules.samevalue import SameValueClassifier
    from grafink_spark.rules.similarity import SimilarityClassifier
    from grafink_spark.rules.twomode import TwoModeClassifier
    from grafink_spark.sources.reader import Reader

    return [
        (Job, "process", "job"),
        (Reader, "read_and_process", "sources.read"),
        (id_mod.IDManager, "process", "id_manager.process"),
        (id_mod.IDManager, "read_all", "id_manager.read_all"),
        (id_mod.IDManager, "fetch_max_id", "id_manager.max_id"),
        (id_mod, "zip_with_index", "id_manager.zip"),
        (GraphCatalog, "create_vertex_label", "catalog"),
        (GraphCatalog, "create_edge_label", "catalog"),
        (GraphStore, "write_vertices", "storage.write_vertices"),
        (
            GraphStore,
            "write_edges",
            lambda _self, _edges, rule, *a, **k: f"storage.write_edges.{rule.edge_label}",
        ),
        (SimilarityClassifier, "classify", "rules.similarity.classify"),
        (SameValueClassifier, "classify", "rules.samevalue.classify"),
        (TwoModeClassifier, "classify", "rules.twomode.classify"),
        (GraphStore, "vertices", "storage.open"),
        (GraphStore, "edges", "storage.open"),
        (gremlin_mod, "parse", "gremlin.parse"),
        (algorithms, "pagerank", "algorithms.pagerank.build"),
    ]


def _wrap(tracer: Tracer, fn, name):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        label = name(*args, **kwargs) if callable(name) else name
        with tracer.span(label) as sp:
            sp.value = fn(*args, **kwargs)
            return sp.value

    return wrapper


@contextmanager
def installed(tracer: Tracer):
    """Patch every layer entry point to open a span; restore on exit."""
    saved = []
    try:
        for owner, attr, name in _targets():
            fn = owner.__dict__[attr]
            saved.append((owner, attr, fn))
            setattr(owner, attr, _wrap(tracer, fn, name))
        yield tracer
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


@contextmanager
def plan_timing(out: list):
    """Split a query's Spark actions into planning and execution.

    While active, ``DataFrame.collect``/``count`` first force the
    physical plan, then run the action on that plan, and append
    ``(plan_ms, exec_ms)`` to ``out``: plan_ms is the QueryExecution
    tracker's analysis + optimization + planning time, exec_ms the
    action's wall time after planning. ``count`` is rebuilt as the
    aggregate Spark's own ``Dataset.count`` runs, so its plan is
    reachable."""
    from pyspark.sql.classic.dataframe import DataFrame

    orig_collect, orig_count = DataFrame.collect, DataFrame.count

    def planned_collect(df):
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        plan_ms = 0
        while it.hasNext():
            plan_ms += it.next()._2().durationMs()
        t = time.perf_counter()
        rows = orig_collect(df)
        out.append((plan_ms, (time.perf_counter() - t) * 1e3))
        return rows

    def collect(self):
        return planned_collect(self)

    def count(self):
        return planned_collect(self.groupBy().count())[0][0]

    DataFrame.collect, DataFrame.count = collect, count
    try:
        yield out
    finally:
        DataFrame.collect, DataFrame.count = orig_collect, orig_count
