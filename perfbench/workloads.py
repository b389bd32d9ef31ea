"""One benchmark run: set-up, then ``ROUNDS`` timed rounds of the night —
one ``Job.process`` load followed by reads of the graph it left, the
stores reset in between — with every output checked.

Both workloads run the same cycle a grafink deployment runs each night:
load the night's alerts, then serve astronomers' queries. They differ in
what the load finds in the stores:

- ``load_fresh``: the first night, into empty id, vertex and edge stores
  (id assignment and new x new rule joins; nothing to prune or read).
- ``load_incremental``: one night on top of a 30-night history built
  during set-up (pruning 1 of 31 partitions, ``fetch_max_id`` over the
  whole id store, new x old rule joins, appends to a large store).

A trace run (``trace=True``) wraps the layers (see ``tracer``) in every
round, times one more, untraced load of the same night for the tracing
overhead, and reports per-layer figures instead of end-to-end ones.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import timedelta
from urllib.parse import urlparse

import duckdb

from perfbench import data, envprobe, queries, tracer

SETUP_REPS = 3  # input generation + expected answers, median reported
ROUNDS = 3  # timed loads (and reads after each) per run; timings are medians
MAX_OPS = 1000  # stops the fill loop if every op fails (no time is spent)


@dataclass(frozen=True)
class Workload:
    shape: data.Shape
    history_days: int  # nights loaded during set-up; the next one is timed

    @property
    def night(self):
        return data.FIRST_DAY + timedelta(days=self.history_days)


WORKLOADS = {
    "load_fresh": Workload(data.Shape(6_000, 1, 300), 0),
    "load_incremental": Workload(data.Shape(200, 31, 300), 30),
}
# the self-test's sizes: every code path, a fraction of the time
TINY = {
    "load_fresh": Workload(data.Shape(400, 1, 40), 0),
    "load_incremental": Workload(data.Shape(100, 4, 30), 3),
}


@dataclass
class Outcome:
    """What the run measured and checked."""

    attempted: int = 0
    failures: list[tuple[int, str]] = field(default_factory=list)  # (op, what)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Record a failed check against the current operation."""
        if not ok:
            self.failures.append((self.attempted, what))

    @property
    def failed(self) -> int:
        """Operations with at least one failed check or an exception."""
        return len({op for op, _ in self.failures})


def _files(root: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(root):
        out.update(os.path.join(d, n) for n in names)
    return out


def _parquet(paths) -> list[str]:
    return sorted(p for p in paths if p.endswith(".parquet"))


def _remove(paths: set[str], root: str) -> None:
    """Delete ``paths``, then the directories they leave empty."""
    for p in paths:
        os.remove(p)
    for d, subdirs, names in os.walk(root, topdown=False):
        if d != root and not subdirs and not names:
            os.rmdir(d)


def collect_garbage(spark) -> None:
    """Full GC in the JVM and in Python, outside timed code, so each
    timed phase starts from the same heap state."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def _read(files: list[str], select: str, group_by: str = "") -> list[tuple]:
    lst = ", ".join(f"'{f}'" for f in files)
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT {select} FROM read_parquet([{lst}], hive_partitioning = true) {group_by}"
        ).fetchall()


class Run:
    def __init__(
        self, spark, work: str, wl: Workload, seed: int, trace: bool, tamper: dict | None = None
    ):
        self.spark, self.work, self.wl, self.seed, self.trace = spark, work, wl, seed, trace
        self.tamper = tamper or {}
        self.cores = spark.sparkContext.defaultParallelism
        self.out = Outcome()
        self.tr = tracer.Tracer(spark) if trace else None
        self.query_stats: list = []  # (op, span, plans, rows) of traced queries
        self.base = os.path.join(work, "in0", "alerts")
        self.store = os.path.join(work, "store")

    # ---------------------------------------------------------------- set-up

    def setup(self) -> float:
        """Generate the inputs ``SETUP_REPS`` times (same seed, separate
        dirs), compute the expected edge rows, build the history. Returns
        the median input+answers time plus the history build time."""
        wl, reps = self.wl, []
        night_days = slice(wl.history_days, wl.history_days + 1)
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            base = os.path.join(self.work, f"in{r}", "alerts")
            dirs = data.write_alerts(self.spark, base, wl.shape, self.seed, data.FIRST_DAY)
            data.write_fixed_vertices(base)
            expected = data.expected_edge_rows(dirs[night_days], dirs[: wl.history_days])
            history = (
                data.expected_edge_rows(dirs[: wl.history_days], []) if wl.history_days else {}
            )
            reps.append(time.perf_counter() - t)
            if r == 0:  # the run reads the first copy
                self.expected = {k: v + self.tamper.get(k, 0) for k, v in expected.items()}
                self.history_expected = history
                self.input_bytes = sum(
                    os.path.getsize(f) for f in _parquet(_files(dirs[wl.history_days]))
                )
            else:
                shutil.rmtree(os.path.join(self.work, f"in{r}"))
        hist_s = 0.0
        if wl.history_days:
            hist_s = self._history()
        self.out.info["setup"] = {"generate_and_expect_s": reps, "history_s": hist_s}
        return statistics.median(reps) + hist_s

    def _history(self) -> float:
        from grafink_spark.config import GrafinkConfig
        from grafink_spark.job import Job

        cfg = GrafinkConfig.from_dict(data.job_config(self.store, self.base, self.cores))
        t = time.perf_counter()
        res = Job(self.spark, cfg).process(data.FIRST_DAY, self.wl.history_days)
        took = time.perf_counter() - t
        self.spark.catalog.clearCache()
        self.out.attempted += 1
        want = self.wl.shape.per_day * self.wl.history_days
        o, edges = self.out, self.history_expected
        o.check(res.vertices_loaded == want, f"history vertices {res.vertices_loaded} != {want}")
        o.check(res.edge_counts == edges, f"history edges {res.edge_counts} != {edges}")
        return took

    # ----------------------------------------------------------------- loads

    def _load(self, root: str, traced: bool):
        """Run ``Job.process`` for the night; returns (seconds, result,
        files added to the stores)."""
        from grafink_spark.config import GrafinkConfig
        from grafink_spark.job import Job

        before = _files(root)
        job = Job(self.spark, GrafinkConfig.from_dict(data.job_config(root, self.base, self.cores)))
        with tracer.installed(self.tr) if traced else contextlib.nullcontext():
            t = time.perf_counter()
            res = job.process(self.wl.night, 1)
            took = time.perf_counter() - t
        added = _files(root) - before
        return took, res, added

    def _check_load(self, res, added: set[str], root: str) -> None:
        """The night's vertices, ids and edge rows, in the job's result and
        in the files it added."""
        o, n = self.out, self.wl.shape.per_day
        offset = data.RESERVED_ID_SPACE + self.wl.shape.per_day * self.wl.history_days
        o.check(res.vertices_loaded == n, f"vertices_loaded {res.vertices_loaded} != {n}")
        def under(sub):
            return _parquet(p for p in added if p.startswith(os.path.join(root, sub) + os.sep))

        for sub in ("ids", os.path.join("graph", "vertices")):
            got = _read(under(sub), "count(*), count(DISTINCT id), min(id), max(id)")[0]
            want = (n, n, offset + 1, offset + n)
            o.check(got == want, f"{sub} (rows, distinct ids, min, max) {got} != {want}")
        want = self.expected
        o.check(res.edge_counts == want, f"edge_counts {res.edge_counts} != {want}")
        edge_files = under(os.path.join("graph", "edges"))
        stored = dict(_read(edge_files, "label, count(*)", "GROUP BY label"))
        o.check(stored == self.expected, f"edge rows in store {stored} != {self.expected}")

    def _reset(self, added: set[str], root: str) -> None:
        """Undo a load: fresh stores are emptied, an incremental load's
        files are removed (found by listing before and after)."""
        if self.wl.history_days:
            _remove(added, root)
        else:
            shutil.rmtree(root)

    def _timed_load(self, root: str, traced: bool):
        """One checked load of the night; returns (seconds, result, files
        added), or None when it raised."""
        o = self.out
        collect_garbage(self.spark)
        o.attempted += 1
        try:
            took, res, added = self._load(root, traced)
            self._check_load(res, added, root)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            o.check(False, f"load: {e!r}")
            return None
        finally:
            self.spark.catalog.clearCache()
        return took, res, added

    def timed(self, seconds: float) -> None:
        """``ROUNDS`` rounds, each one load of the night and then the reads
        of the graph it left (``queries.ROUND``), with the stores reset in
        between; after the last round, interactive lookups and scans until
        ``seconds`` have passed since the first load. Each gated timing is
        the median over the rounds, so every run takes the same number of
        samples of it whatever the host's speed, and the first, cold
        sample of each does not set the figure."""
        o, wl, root = self.out, self.wl, self.store
        o.info["env"] = envprobe.weather()
        t0 = time.perf_counter()
        loads, store_bytes, lat = [], [], {}
        for r in range(ROUNDS):
            got = self._timed_load(root, traced=self.trace)
            if got is None:
                return
            load_s, res, added = got
            parquet = _parquet(added)
            loads.append(load_s)
            store_bytes.append(sum(os.path.getsize(p) for p in parquet))
            edge_bytes = sum(
                os.path.getsize(p) for p in parquet if f"{os.sep}edges{os.sep}" in p
            )
            until = t0 + seconds if r == ROUNDS - 1 else None
            self._reads(self.seed * ROUNDS + r, lat, until)
            if r < ROUNDS - 1 or self.trace:
                self._reset(added, root)
        edge_rows = sum(res.edge_counts.values())
        load_s = statistics.median(loads)
        o.e2e.update(
            load_s=load_s,
            vertices_per_s=wl.shape.per_day / load_s,
            edges_per_s=edge_rows / load_s,
            store_bytes_per_alert_byte=statistics.median(store_bytes) / self.input_bytes,
        )
        inter = sorted(x for c in ("lookup", "traverse", "scan") for x in lat.get(c, []))
        med = lambda xs: statistics.median(xs) if xs else float("nan")
        o.e2e.update(
            query_p50_ms=med(inter) * 1e3,
            queries_per_s=len(inter) / sum(inter) if inter else 0.0,
            lookup_p50_ms=med(lat.get("lookup")) * 1e3,
            traverse_p50_ms=med(lat.get("traverse")) * 1e3,
            scan_p50_ms=med(lat.get("scan")) * 1e3,
            analytics_s=med(lat.get("analytics")),
        )
        o.info["query_p90_ms"] = (
            statistics.quantiles(inter, n=10)[-1] * 1e3 if len(inter) > 1 else float("nan")
        )
        o.info["latencies_s"] = lat
        o.info["load_s_rounds"] = loads
        o.info["sizes"] = {
            "input_rows": wl.shape.per_day,
            "input_bytes": self.input_bytes,
            "partitions_present": wl.history_days + 1,
            "history_rows": wl.shape.per_day * wl.history_days,
            "edge_rows": res.edge_counts,
            "store_bytes_added": store_bytes,
        }
        if self.trace:
            self._load_layers(edge_bytes, edge_rows)
            # the same night again, untraced, for the tracing overhead
            got = self._timed_load(root, traced=False)
            if got is not None:
                o.layers["trace.overhead_s"] = loads[-1] - got[0]
                o.info["untraced_load_s"] = got[0]

    # ------------------------------------------------------------------ reads

    def _reads(self, seed: int, lat: dict[str, list[float]], until: float | None) -> None:
        """The round's reads over the graph the load left, each checked:
        ``queries.ROUND`` once; then, if ``until`` is given, whole cycles
        of ``queries.FILL`` until that clock time (at least one)."""
        from grafink_spark.graph.query import GraphQuery
        from grafink_spark.graph.storage import GraphStore

        oracle = queries.Oracle(os.path.join(self.store, "graph"))
        g = GraphQuery(GraphStore(self.spark, os.path.join(self.store, "graph")))
        ids, objects = oracle.id_range(), oracle.objects()

        def run(op):
            took = self._query(op, g, oracle)
            if took is not None:
                lat.setdefault(op.cls, []).append(took)

        for op in queries.stream(seed, ids, objects, queries.ROUND, repeat=False):
            collect_garbage(self.spark)
            run(op)
        fill, n = queries.stream(seed + 1, ids, objects, queries.FILL), 0
        while until is not None and n < MAX_OPS and (
            n == 0 or time.perf_counter() < until or n % len(queries.FILL)
        ):
            run(next(fill))
            n += 1
        oracle.close()

    def _query(self, op, g, oracle) -> float | None:
        """Run, time and check one op (traced in a trace run); None when
        it raised."""
        from grafink_spark import gremlin as gremlin_mod
        from grafink_spark.graph import algorithms

        o = self.out
        o.attempted += 1
        plans: list = []
        try:
            took, got, span = self._run_op(
                op, g, gremlin_mod.gremlin, algorithms, plans, self.trace
            )
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            o.check(False, f"{op.kind}({op.arg}): {e!r}")
            return None
        ok = queries.same(op, got, oracle.answer(op))
        o.check(ok, f"{op.kind}({op.arg}) answer differs from DuckDB")
        if span is not None:
            self.query_stats.append((op, span, plans, queries.rows_returned(got)))
        return took

    def _run_op(self, op, g, gremlin, algorithms, plans, traced):
        if not traced:
            t = time.perf_counter()
            got = queries.run(op, g, gremlin, algorithms)
            return time.perf_counter() - t, got, None
        # the op's root span: pagerank's covers building the ranks and
        # collecting them (the wrapped function only builds the plan)
        name = "algorithms.pagerank" if op.kind == "pagerank" else "query"
        with tracer.installed(self.tr), tracer.plan_timing(plans), self.tr.span(name) as sp:
            t = time.perf_counter()
            got = queries.run(op, g, gremlin, algorithms)
            took = time.perf_counter() - t
        return took, got, sp

    # ------------------------------------------------------------ layer report

    def _load_layers(self, edge_bytes: int, edge_rows: int) -> None:
        """Keep the last traced load's span tree (the warmest)."""
        root = [s for s in self.tr.spans if s.name == "job"][-1]
        self.load_tree = [root] + tracer.children_of(root, self.tr.spans)
        self.edge_bytes, self.edge_rows = edge_bytes, edge_rows

    def finish_layers(self) -> None:
        """Attach Spark counters (after every timed region) and fold the
        spans into the per-layer figures."""
        tr, L = self.tr, self.out.layers
        tr.attach_counters(tr.spans)
        tree = self.load_tree
        by_name: dict[str, list] = {}
        for sp in tree:
            by_name.setdefault(sp.name, []).append(sp)

        def total(name):
            return sum(s.dur for s in by_name.get(name, []))

        def counters(prefix, spans, per=1):
            own = sum(tracer.self_time(s, tr.spans) for s in spans)
            task = sum(s.counters["task_s"] for s in spans)
            for c in ("jobs", "stages", "task_s", "shuffle_write_bytes", "spill_bytes"):
                L[f"{prefix}.{c}"] = sum(s.counters[c] for s in spans) / per
            L[f"{prefix}.util"] = task / (own * tr.cores) if own > 0 else 0.0

        for name in (
            "job", "sources.read", "id_manager.process", "id_manager.read_all",
            "id_manager.max_id", "id_manager.zip", "rules.similarity.classify",
            "rules.samevalue.classify", "rules.twomode.classify",
            "storage.write_vertices", "storage.write_edges.similarity",
            "storage.write_edges.exactmatch", "storage.write_edges.satr",
        ):
            counters(name, by_name.get(name, []))
        root = tree[0]
        read = by_name["sources.read"][0]
        L.update({
            "job.s": root.dur,
            "job.self_s": tracer.self_time(root, tr.spans),
            "sources.read_s": total("sources.read"),
            "id_manager.read_all_s": total("id_manager.read_all"),
            "id_manager.max_id_s": total("id_manager.max_id"),
            "id_manager.store_bytes_read": sum(
                s.counters["input_bytes"] for s in by_name["id_manager.max_id"]
            ),
            "id_manager.zip_s": total("id_manager.zip"),
            "id_manager.process_s": total("id_manager.process"),
            "rules.similarity.classify_s": total("rules.similarity.classify"),
            "rules.samevalue.classify_s": total("rules.samevalue.classify"),
            "rules.twomode.classify_s": total("rules.twomode.classify"),
            "storage.write_vertices_s": total("storage.write_vertices"),
            "storage.write_edges_s.similarity": total("storage.write_edges.similarity"),
            "storage.write_edges_s.exactmatch": total("storage.write_edges.exactmatch"),
            "storage.write_edges_s.satr": total("storage.write_edges.satr"),
            "storage.bytes_written_per_edge_row": self.edge_bytes / self.edge_rows,
            "catalog.s": total("catalog"),
            "trace.bookkeeping_ms": tr.bookkeeping_s * 1e3,
        })
        files = [urlparse(f).path for f in read.value.inputFiles()]  # what the job scans
        L["sources.partitions_read"] = len({os.path.dirname(f) for f in files})
        L["sources.partitions_present"] = self.wl.history_days + 1
        L["sources.input_bytes"] = sum(os.path.getsize(f) for f in files)
        covered = sum(tracer.self_time(s, tr.spans) for s in tree)
        self.out.info["self_time_cover"] = covered / root.dur

        # read side: medians per interactive query, pagerank per call
        inter = [q for q in self.query_stats if q[0].kind != "pagerank"]
        pr = [sp for op, sp, _, _ in self.query_stats if op.kind == "pagerank"]

        def under(sp, name):
            return sum(c.dur for c in tracer.children_of(sp, tr.spans) if c.name == name)

        med = statistics.median
        L["storage.open_s"] = med(under(sp, "storage.open") for _, sp, _, _ in inter)
        L["gremlin.parse_s"] = med(under(sp, "gremlin.parse") for _, sp, _, _ in inter)
        L["query.plan_ms"] = med(sum(p for p, _ in plans) for _, _, plans, _ in inter)
        L["query.exec_ms"] = med(sum(e for _, e in plans) for _, _, plans, _ in inter)
        L["query.rows_scanned_per_row_returned"] = med(
            sp.counters["input_records"] / rows for op, sp, _, rows in inter if op.cls == "lookup"
        )
        counters("query", [sp for _, sp, _, _ in inter], per=len(inter))
        opens = [
            c
            for _, sp, _, _ in inter
            for c in tracer.children_of(sp, tr.spans)
            if c.name == "storage.open"
        ]
        counters("storage.open", opens, per=len(inter))
        L["algorithms.pagerank_s"] = med(sp.dur for sp in pr)
        # every job of the call, also those of the plan-building child
        below = [c for sp in pr for c in tracer.children_of(sp, tr.spans)]
        counters("algorithms.pagerank", pr + below, per=len(pr))
