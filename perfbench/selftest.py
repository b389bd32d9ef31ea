"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Runs each workload once on a few hundred alerts and checks that

- every check passes on the program's (correct) output;
- every end-to-end metric of BENCHMARK.json gets a value;
- a traced run yields every per-layer metric, and the self times of the
  spans under ``Job.process`` add up to its wall time;
- an expected edge count that is off by two makes the run report a
  failed operation, i.e. an error rate above 0.

Exits 0 when all hold. Takes a few minutes (four Spark sessions).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    for name in workloads.TINY:
        out = run.measure(name, 1, 1.0, False, sizes=workloads.TINY)
        expect(out.failed == 0, f"{name}: all checks pass {[w for _, w in out.failures]}")
        expect(all(k in out.e2e for k in e2e), f"{name}: every end-to-end metric has a value")

    # a seed past 2**31 too
    out = run.measure("load_incremental", 3_000_000_019, 1.0, True, sizes=workloads.TINY)
    failures = [w for _, w in out.failures]
    expect(out.failed == 0, f"traced load_incremental: all checks pass {failures}")
    missing = [k for k in layers if k not in out.layers]
    expect(not missing, f"traced load_incremental: every per-layer metric has a value {missing}")
    cover = out.info.get("self_time_cover", 0.0)
    expect(
        abs(cover - 1.0) < 1e-9,
        f"span self times account for Job.process wall time ({cover:.12f})",
    )

    out = run.measure("load_fresh", 3, 1.0, False, sizes=workloads.TINY, tamper={"similarity": 2})
    rate = out.failed / out.attempted
    expect(rate > 0, f"tampered expected similarity count: error rate {rate:.3f} > 0")

    print("selftest:", "passed" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
