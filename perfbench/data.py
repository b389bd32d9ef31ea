"""Seeded, alert-shaped inputs for the load benchmark and their expected
answers.

Alerts are built from ``spark.range`` with hash-derived columns (the
shape ``grafink_spark/stress.py`` uses), written as
``year=Y/month=M/day=D`` day partitions the job's reader prunes.
The same seed always yields the same rows. Expected answers come from
DuckDB reading the generated parquet, never from the program under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# all three of the job's rules, configured as the reference's docs show
SIMILARITY_EXP = "(rfscore AND snn_snia_vs_nonia) OR objectId"
RECIPES = ["supernova", "microlensing", "asteroids", "catalog"]
CATALOG_VALUES = ["WD*", "AGN", "QSO"]
CDSXMATCH_VALUES = ["Unknown", "galaxy", "WD*", "AGN", "Star", "SN", "QSO", "RRLyr"]
RESERVED_ID_SPACE = 100
FIRST_DAY = date(2019, 11, 1)

FIXED_VERTEX_CSV = (
    '1,"similarity","recipe","string","supernova"\n'
    '2,"similarity","recipe","string","microlensing"\n'
    '3,"similarity","recipe","string","asteroids"\n'
    + "".join(
        f'{4 + i},"similarity","recipe","string","catalog",'
        f'"equals","string","{v}"\n'
        for i, v in enumerate(CATALOG_VALUES)
    )
)

# TwoModeClassifier.SUPERNOVA_CDSXMATCH_SET restricted to the values the
# generator emits; kept literal so the oracle does not import the program
_SUPERNOVA_XMATCH = ["Unknown", "galaxy", "SN"]


@dataclass(frozen=True)
class Shape:
    """One generated input: ``n_days`` nights of ``per_day`` alerts whose
    objectIds are drawn from a pool of ``n_objects``."""

    per_day: int
    n_days: int
    n_objects: int

    @property
    def rows(self) -> int:
        return self.per_day * self.n_days


def _unit(seed: int, salt: int):
    """Deterministic value in [0, 1) per row, independent per ``salt``."""
    return (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(1_000_003))
        / F.lit(1_000_003.0)
    )


def alerts(spark: SparkSession, shape: Shape, seed: int, first_day: date) -> DataFrame:
    """``shape.rows`` alerts over ``shape.n_days`` nights from ``first_day``."""
    day0 = F.date_add(F.lit(first_day), (F.col("id") / shape.per_day).cast("int"))
    obj = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(0)), F.lit(shape.n_objects))
    xmatch = F.array(*[F.lit(v) for v in CDSXMATCH_VALUES])
    pick = (_unit(seed, 8) * len(CDSXMATCH_VALUES)).cast("int")
    ml = lambda salt: F.when(_unit(seed, salt) < 0.2, F.lit("ML")).otherwise(
        F.lit("CONSTANT")
    )
    return spark.range(shape.rows, numPartitions=4).select(
        F.format_string("ZTF%08d", obj).alias("objectId"),
        (F.lit(1_000_000_000_000 + (seed % 1_000_000) * 10_000_000) + F.col("id")).alias(
            "candid"
        ),
        (F.lit(2458800.5) + F.col("id") / 1e5).alias("jd"),
        F.element_at(xmatch, pick + 1).alias("cdsxmatch"),
        _unit(seed, 1).alias("rfscore"),
        _unit(seed, 2).alias("snn_snia_vs_nonia"),
        _unit(seed, 3).alias("snn_sn_vs_all"),
        _unit(seed, 4).alias("drb"),
        (_unit(seed, 5) * 800).cast("int").alias("ndethist"),
        _unit(seed, 6).alias("classtar"),
        F.when(_unit(seed, 7) < 0.1, F.lit(3)).otherwise(F.lit(0)).alias("roid"),
        ml(9).alias("mulens_class_1"),
        ml(10).alias("mulens_class_2"),
        F.year(day0).alias("year"),
        F.month(day0).alias("month"),
        F.dayofmonth(day0).alias("day"),
    )


def day_dir(base: str, d: date) -> str:
    """The partition dir Spark's ``partitionBy`` writes for night ``d``
    (unpadded; the job's reader accepts both layouts)."""
    return os.path.join(base, f"year={d.year}/month={d.month}/day={d.day}")


def write_alerts(
    spark: SparkSession, base: str, shape: Shape, seed: int, first_day: date
) -> list[str]:
    """Write the nights, one parquet file each; returns the day dirs."""
    (
        alerts(spark, shape, seed, first_day)
        .repartition(shape.n_days, "year", "month", "day")
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .parquet(base)
    )
    return [day_dir(base, first_day + timedelta(days=i)) for i in range(shape.n_days)]


def job_config(root: str, alerts_base: str, cores: int) -> dict:
    """Job config with all three rules; stores live under ``root``."""
    return {
        "reader": {"basePath": alerts_base},
        "idManager": {
            "dataPath": os.path.join(root, "ids"),
            "reservedIdSpace": RESERVED_ID_SPACE,
        },
        "edgeLoader": {
            "rulesToApply": [
                "similarityClassifier",
                "sameValueClassifier",
                "twoModeClassifier",
            ],
            "similarityClassifer": {"similarityExp": SIMILARITY_EXP},
            "sameValueClassifier": {"colsToConnect": ["objectId"]},
            "twoModeClassifier": {"recipes": RECIPES},
            "taskSize": 25000,
            "parallelism": cores,
        },
        "fixedVertices": {"path": os.path.join(os.path.dirname(alerts_base), "fixed.csv")},
        "graph": {"storagePath": os.path.join(root, "graph"), "vertexLabel": "alert"},
    }


def write_fixed_vertices(alerts_base: str) -> None:
    with open(os.path.join(os.path.dirname(alerts_base), "fixed.csv"), "w") as f:
        f.write(FIXED_VERTEX_CSV)


# --------------------------------------------------------------- oracle


def _scan(dirs: list[str]) -> str:
    files = ", ".join(f"'{d}/*.parquet'" for d in dirs)
    return f"read_parquet([{files}])"


def expected_edge_rows(new_dirs: list[str], old_dirs: list[str]) -> dict[str, int]:
    """Edge rows (both directions) each rule must add when the alerts in
    ``new_dirs`` are loaded on top of those in ``old_dirs``.

    Counted from per-object group sizes rather than by joining, so the
    oracle shares no plan with the program:

    - exactmatch: sum over objects of C(new, 2) + new * old;
    - similarity: pairs with the same objectId, plus pairs where both
      alerts have rfscore > 0.9 and snn_snia_vs_nonia > 0.9, minus the
      pairs that are both;
    - satr: one edge per matching recipe per new alert.
    """
    con = duckdb.connect()
    hi = "(rfscore > 0.9 AND snn_snia_vs_nonia > 0.9)"
    con.execute(f"CREATE VIEW new AS SELECT * FROM {_scan(new_dirs)}")
    if old_dirs:
        con.execute(f"CREATE VIEW old AS SELECT * FROM {_scan(old_dirs)}")
    else:
        con.execute("CREATE VIEW old AS SELECT * FROM new WHERE false")
    pairs = con.execute(
        f"""
        WITH g AS (
          SELECT objectId,
                 sum(n_new)::HUGEINT AS n, sum(n_old)::HUGEINT AS o,
                 sum(h_new)::HUGEINT AS hn, sum(h_old)::HUGEINT AS ho
          FROM (
            SELECT objectId, 1 AS n_new, 0 AS n_old,
                   {hi}::INT AS h_new, 0 AS h_old FROM new
            UNION ALL
            SELECT objectId, 0, 1, 0, {hi}::INT FROM old
          ) GROUP BY objectId
        )
        SELECT
          sum(n * (n - 1) / 2 + n * o)   AS same_obj,
          sum(hn * (hn - 1) / 2 + hn * ho) AS both,
          (SELECT count(*) FROM new WHERE {hi})::HUGEINT AS hn_all,
          (SELECT count(*) FROM old WHERE {hi})::HUGEINT AS ho_all
        FROM g
        """
    ).fetchone()
    same_obj, both, hn_all, ho_all = (int(x) for x in pairs)
    high = hn_all * (hn_all - 1) // 2 + hn_all * ho_all
    catalog = ", ".join(f"'{v}'" for v in CATALOG_VALUES)
    supernova_x = ", ".join(f"'{v}'" for v in _SUPERNOVA_XMATCH)
    satr = con.execute(
        f"""
        SELECT sum(
          (snn_snia_vs_nonia > 0.75 AND snn_sn_vs_all > 0.75 AND drb > 0.5
           AND ndethist < 400 AND classtar > 0.4
           AND cdsxmatch IN ({supernova_x}))::INT
          + (mulens_class_1 = 'ML' AND mulens_class_2 = 'ML')::INT
          + (roid > 1)::INT
          + (cdsxmatch IN ({catalog}))::INT)
        FROM new
        """
    ).fetchone()[0]
    con.close()
    return {
        "similarity": 2 * (same_obj + high - both),
        "exactmatch": 2 * same_obj,
        "satr": 2 * int(satr),
    }

