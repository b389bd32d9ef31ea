"""The read side: a seeded stream of Gremlin traversals and pagerank
calls, and DuckDB's answer to each over the same store files.

Operation classes:

- lookup:    ``g.V().has("objectId", x)``, ``g.V(id).valueMap(true)``,
             ``g.V(id).outE("similarity")``
- traverse:  the ids within two ``exactmatch`` hops of a vertex,
             through ``GraphQuery.neighborhood`` (the query surface's
             ``g.V(id).out().out()``; the Gremlin parser's chained
             ``out()`` restarts from the anchor vertex, so it is not
             used here)
- scan:      ``g.V().outE("similarity").has("value", k).count()``,
             ``g.V().groupCount().by(label)``
- analytics: ``pagerank(iters=3)`` over the similarity edges
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

import duckdb

# each timed round runs these once, in this order, on the graph its load
# left; so every run has the same number of samples of each
ROUND = ("pagerank", "traverse")
# after the last round, interactive lookups and scans repeat in whole
# cycles of this until the run's time is spent
FILL = ("has", "valuemap", "oute", "scan_value", "scan_group")
CLASS_OF = {
    "has": "lookup", "valuemap": "lookup", "oute": "lookup",
    "traverse": "traverse", "scan_value": "scan", "scan_group": "scan",
}
PAGERANK_ITERS = 3
DAMPING = 0.85


@dataclass
class Op:
    kind: str
    arg: object

    @property
    def cls(self) -> str:
        return CLASS_OF.get(self.kind, "analytics")

    @property
    def text(self) -> str | None:
        """The Gremlin string, for the kinds that go through the parser."""
        return {
            "has": f'g.V().has("objectId", "{self.arg}")',
            "valuemap": f"g.V({self.arg}).valueMap(true)",
            "oute": f'g.V({self.arg}).outE("similarity")',
            "scan_value": f'g.V().outE("similarity").has("value", {self.arg}).count()',
            "scan_group": "g.V().groupCount().by(label)",
        }.get(self.kind)


def stream(seed: int, ids: tuple[int, int], objects: list[str], kinds=FILL, repeat=True):
    """Seeded stream of ops over vertex ids in ``ids``
    (inclusive range) and the given objectIds: ``kinds`` in order,
    repeated forever unless ``repeat`` is false."""
    rng = random.Random(seed)
    while True:
        for kind in kinds:
            if kind == "has":
                arg = rng.choice(objects)
            elif kind == "scan_value":
                arg = rng.choice((1, 2, 3))
            elif kind in ("scan_group", "pagerank"):
                arg = None
            else:
                arg = rng.randint(*ids)
            yield Op(kind, arg)
        if not repeat:
            return


def run(op: Op, g, gremlin, algorithms):
    """Execute ``op`` through the program and bring the answer into
    Python (lazy DataFrames are collected, so the work is done)."""
    if op.kind == "traverse":
        return sorted(r[0] for r in g.neighborhood(op.arg, 2, "exactmatch").collect())
    if op.kind == "pagerank":
        edges = g.out_e("similarity")
        ranks = algorithms.pagerank(edges, iters=PAGERANK_ITERS).collect()
        return {r["id"]: r["rank"] for r in ranks}
    res = gremlin(g, op.text)
    if op.kind == "has":
        return sorted(r["id"] for r in res.collect())
    if op.kind == "oute":
        return sorted((r["src"], r["dst"], r["propVal"]) for r in res.collect())
    if op.kind == "scan_group":
        return sorted((r["label"], r["count"]) for r in res.collect())
    return res  # valueMap dict, count int


def rows_returned(answer) -> int:
    return max(len(answer), 1) if isinstance(answer, list) else 1


class Oracle:
    """DuckDB over the graph store's parquet files."""

    def __init__(self, graph_root: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE v AS SELECT * FROM read_parquet("
            f"'{graph_root}/vertices/**/*.parquet', hive_partitioning = true)"
        )
        self.con.execute(
            "CREATE TABLE e AS SELECT src, dst, propVal, label FROM read_parquet("
            f"'{graph_root}/edges/**/*.parquet', hive_partitioning = true)"
        )

    def close(self) -> None:
        self.con.close()

    def id_range(self) -> tuple[int, int]:
        return tuple(self.con.execute("SELECT min(id), max(id) FROM v").fetchone())

    def objects(self) -> list[str]:
        rows = self.con.execute("SELECT DISTINCT objectId FROM v ORDER BY 1").fetchall()
        return [r[0] for r in rows]

    def answer(self, op: Op):
        q = self.con.execute
        if op.kind == "has":
            rows = q("SELECT id FROM v WHERE objectId = ? ORDER BY id", [op.arg]).fetchall()
            return [r[0] for r in rows]
        if op.kind == "valuemap":
            cur = q("SELECT * FROM v WHERE id = ?", [op.arg])
            names = [d[0] for d in cur.description]
            row = cur.fetchone()
            return dict(zip(names, row)) if row else {}
        if op.kind == "oute":
            return [
                tuple(r)
                for r in q(
                    "SELECT src, dst, propVal FROM e WHERE label = 'similarity' "
                    "AND src = ? ORDER BY 1, 2, 3",
                    [op.arg],
                ).fetchall()
            ]
        if op.kind == "traverse":
            return [
                r[0]
                for r in q(
                    """
                    WITH x AS (SELECT src, dst FROM e WHERE label = 'exactmatch'),
                    h1 AS (SELECT DISTINCT dst AS id FROM x WHERE src = $1),
                    h2 AS (SELECT DISTINCT x.dst AS id FROM x JOIN h1 ON x.src = h1.id)
                    SELECT id FROM (SELECT id FROM h1 UNION SELECT id FROM h2)
                    WHERE id <> $1 ORDER BY id
                    """,
                    [op.arg],
                ).fetchall()
            ]
        if op.kind == "scan_value":
            return q(
                "SELECT count(*) FROM e WHERE label = 'similarity' AND propVal = ?",
                [str(op.arg)],
            ).fetchone()[0]
        if op.kind == "scan_group":
            rows = q("SELECT label, count(*) FROM v GROUP BY 1 ORDER BY 1").fetchall()
            return [tuple(r) for r in rows]
        if op.kind == "pagerank":
            return self._pagerank()
        raise ValueError(op.kind)

    def _pagerank(self) -> dict:
        """The program's formulation, replayed: dangling mass leaks, each
        contribution is summed as DECIMAL(38,18)."""
        q = self.con.execute
        q(
            "CREATE OR REPLACE TEMP TABLE pe AS "
            "SELECT src AS s, dst AS d FROM e WHERE label = 'similarity'"
        )
        q("CREATE OR REPLACE TEMP TABLE pv AS SELECT s AS id FROM pe UNION SELECT d FROM pe")
        n = q("SELECT count(*) FROM pv").fetchone()[0]
        q("CREATE OR REPLACE TEMP TABLE pd AS SELECT s, count(*) AS deg FROM pe GROUP BY s")
        q(f"CREATE OR REPLACE TEMP TABLE pr AS SELECT id, 1.0::DOUBLE / {n} AS rank FROM pv")
        base = (1.0 - DAMPING) / n
        for _ in range(PAGERANK_ITERS):
            q(
                f"""
                CREATE OR REPLACE TEMP TABLE pr AS
                WITH c AS (
                  SELECT pe.d, sum((pr.rank / pd.deg)::DECIMAL(38, 18))::DOUBLE AS inn
                  FROM pe JOIN pd ON pe.s = pd.s JOIN pr ON pe.s = pr.id
                  GROUP BY pe.d)
                SELECT pv.id, {base!r} + {DAMPING!r} * coalesce(c.inn, 0.0) AS rank
                FROM pv LEFT JOIN c ON pv.id = c.d
                """
            )
        return dict(q("SELECT id, rank FROM pr").fetchall())


def same(op: Op, got, want) -> bool:
    if op.kind == "pagerank":
        return got.keys() == want.keys() and all(
            math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-15) for k in want
        )
    return got == want
