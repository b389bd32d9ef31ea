"""Benchmark of the grafink-spark load job and its Gremlin read surface.

    python3 perfbench/run.py --workload load_fresh --seed 1 --seconds 20 --trace 0

Run from the repository root. One run starts a ``local[<cpus>]`` Spark
session, builds the workload's seeded inputs (and, for
``load_incremental``, a 30-night history), then times three rounds of
one nightly ``Job.process`` load and the reads of the graph it left, and
reports the median of each timing over the rounds.
Every output is checked against DuckDB. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). Spans, environment and the full report go
to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["load_fresh", "load_incremental"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    """Session with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the session factory reads these; pin them so every run is alike
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the module caches its first choice
    from grafink_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # Spark's default heap: with 3g, G1 grew the heap by a
            # different amount in each run, which spread the peak RSS of
            # ten runs by a quarter of its median and slowed every timing
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store must still hold every job when a trace
            # run reads it at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    # let a later session in this process launch a JVM of its own
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(name: str, seed: int, seconds: float, trace: bool, sizes=None, tamper=None):
    """One run; returns its ``workloads.Outcome``. ``sizes`` and
    ``tamper`` are for the self-test (smaller shapes, wrong expected
    counts)."""
    from perfbench import envprobe, workloads

    wl = (sizes or workloads.WORKLOADS)[name]
    work = os.path.join(WORK, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_spark(work, envprobe.cpus())
    try:
        session_s = time.perf_counter() - t0
        run = workloads.Run(spark, work, wl, seed, trace, tamper)
        setup_s = session_s + run.setup()
        run.timed(seconds)
        if trace:
            run.finish_layers()
        out = run.out
        out.e2e["setup_s"] = setup_s
        out.e2e["jvm_peak_rss_mb"] = envprobe.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        out.info["session_s"] = session_s
        if trace:
            _write_spans(run, name, seed)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return out


def _write_spans(run, name, seed) -> None:
    tr = run.tr
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    t0 = min(s.start for s in tr.spans)
    rows = [
        {
            "id": s.id,
            "name": s.name,
            "parent": s.parent,
            "start": s.start - t0,
            "end": s.end - t0,
            **s.counters,
        }
        for s in sorted(tr.spans, key=lambda s: s.start)
    ]
    with open(os.path.join(WORK, "results", f"{name}-seed{seed}-spans.json"), "w") as f:
        json.dump(rows, f, indent=1)


def _unit(name: str) -> str:
    return "1/s" if name.endswith("_per_s") else name.rsplit("_", 1)[-1]


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "grafink_spark")):
        print(
            f"perfbench: no grafink_spark package under {ROOT}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = measure(a.workload, a.seed, a.seconds, bool(a.trace))
    got = out.layers if a.trace else out.e2e
    missing = [m["name"] for m in wanted if not math.isfinite(got.get(m["name"], math.nan))]
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "error_rate": out.failed / max(out.attempted, 1),
        "failures": [what for _, what in out.failures],
        "end_to_end": out.e2e,
        "per_layer": out.layers,
        **out.info,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"
    path = os.path.join(WORK, "results", name)
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    for _, what in out.failures:
        print(f"perfbench: FAILED {what}", file=sys.stderr)
    if missing:
        print(f"perfbench: no value for {missing}; report in {path}", file=sys.stderr)
        return 3
    units = {m["name"]: m["unit"] for m in wanted}
    shown = dict(got, **({} if a.trace else {"query_p90_ms": out.info["query_p90_ms"]}))
    print(  # every metric, also the report-only ones (units from the name)
        f"perfbench {a.workload} seed={a.seed} trace={a.trace}: "
        + ", ".join(f"{k}={v:.6g} {units.get(k) or _unit(k)}" for k, v in shown.items())
        + f", error_rate={report['error_rate']:.6g}"
    )
    result = {
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
