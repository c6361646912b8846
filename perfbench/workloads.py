"""The benchmark's workloads: fixed, ordered lists of operations.

Each operation is a name, a builder `(spark, data_dir, ctx) -> DataFrame`
and a DuckDB oracle SQL over the same parquet inputs. Most are
`__spark_entry__.queries()` entries with their `oracle_sql()` twins. The
`features` workload also runs a resumable stage through `lineage.run_stage`:
`stage_cold` writes every partition of a per-crown zonal-LiDAR stage once,
then each `stage_resume` re-runs it after the inputs of one seed-chosen
partition out of 16 changed again (each time to values not seen before, so
every resume recomputes exactly that partition).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import __spark_entry__ as entry
from geotreehealth_spark import lineage, synth
from geotreehealth_spark.operators import pip_join
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WORKLOADS = {
    # crown<->stem join family: median pick, PIP best-stem assignment, kNN
    # (the prove-or-escalate driver), feature-space NN match, greedy NMS over
    # the overlap self-join, and word-Jaccard pair generation; no Python UDFs
    "match": [
        "median_pick", "pip_assign_best", "knn", "feature_nn", "nms_greedy", "jaccard_pairs",
    ],
    # the Python/Arrow UDF boundary (image decode, docs decode, zonal
    # applyInPandas, polygonize) plus the write path of a resumable stage;
    # no kNN
    "features": [
        "image_features", "docs_decode_stems", "zonal_raster", "polygonize",
        "stage_cold", "stage_resume",
    ],
}

# which parquet tables each workload reads (the stated input rows)
INPUT_TABLES = {
    "match": ("orders", "lineitem", "documents"),
    "features": ("orders", "lineitem", "events", "documents"),
}

STAGE = "crown_zonal"
N_PARTS = 16
# 25 m cells spread over the 16 partitions, so each partition holds about a
# sixteenth of the crowns, dense strip or not
PART_KEY_SQL = (
    f"(CAST(FLOOR(cx / 25e0) AS BIGINT) * 41 + CAST(FLOOR(cy / 25e0) AS BIGINT)) % {N_PARTS}"
)


@dataclass
class StageContext:
    """Where the resumable stage checkpoints, and which partition changes."""

    base: str
    changed_part: int
    resumes: int = 0


def changed_part(seed: int) -> int:
    return (seed * 7 + 3) % N_PARTS


def _stage_inputs(spark: SparkSession, data_dir: str, ctx: StageContext) -> DataFrame:
    crowns = synth.crowns(spark, data_dir).where(F.col("crown_key") % 4 == 0).select(
        "crown_id", "cx", "cy", "xmin", "ymin", "xmax", "ymax"
    ).withColumn("part_key", F.expr(PART_KEY_SQL).cast("int"))
    if not ctx.resumes:
        return crowns
    # widen the crowns of one partition by half a metre per resume: its
    # fingerprint and point counts change, the other 15 partitions stay
    widen = 0.5 * ctx.resumes
    return crowns.withColumn(
        "xmax",
        F.when(F.col("part_key") == ctx.changed_part, F.col("xmax") + widen)
        .otherwise(F.col("xmax")),
    )


def _stage(spark: SparkSession, data_dir: str, ctx: StageContext, resume: bool) -> DataFrame:
    if resume:
        ctx.resumes += 1
    lidar = synth.lidar(spark, data_dir).select("x", "y", "z")

    def compute(subset: DataFrame) -> DataFrame:
        return (
            pip_join.pip_join(lidar, subset, cell_size=25.0, poly_wkb=None)
            .groupBy("crown_id", "part_key")
            .agg(F.count("*").alias("n_pts"), F.max("z").alias("z_max"))
        )

    inputs = _stage_inputs(spark, data_dir, ctx)
    return lineage.run_stage(spark, STAGE, inputs, "part_key", compute, ctx.base)


def reset_stage(ctx: StageContext) -> None:
    """Empty the checkpoint base so `stage_cold` writes every partition."""
    shutil.rmtree(ctx.base, ignore_errors=True)
    os.makedirs(ctx.base, exist_ok=True)
    ctx.resumes = 0


def _stage_oracle(ctx: StageContext) -> str:
    xmax = "xmax" if not ctx.resumes else (
        f"CASE WHEN part_key = {ctx.changed_part} THEN xmax + {0.5 * ctx.resumes!r}e0 ELSE xmax END"
    )
    return synth.oracle_with(("crowns", synth.ORACLE_VIEWS["crowns"]),
                             ("lidar", synth.ORACLE_VIEWS["lidar"])) + f"""
        , parts AS (SELECT crown_id, xmin, ymin, xmax, ymax,
                           CAST({PART_KEY_SQL} AS INTEGER) AS part_key
                    FROM crowns WHERE crown_key % 4 = 0)
        , c AS (SELECT crown_id, xmin, ymin, {xmax} AS xmax, ymax, part_key FROM parts)
        SELECT c.crown_id, COUNT(*) AS n_pts, MAX(l.z) AS z_max, c.part_key
        FROM c JOIN lidar l
          ON l.x >= c.xmin AND l.x < c.xmax AND l.y >= c.ymin AND l.y < c.ymax
        GROUP BY c.crown_id, c.part_key
    """


@dataclass
class Op:
    """One operation. `once`: runs in the verification pass only (it sets up
    state the timed ops reuse). `varies`: its output changes from run to run,
    so each run is checked against its own oracle."""

    name: str
    build: Callable[[SparkSession, str, StageContext], DataFrame]
    oracle: Callable[[StageContext], str]
    once: bool = False
    varies: bool = False


def ops(workload: str) -> list[Op]:
    queries = entry.queries()
    oracles = entry.oracle_sql()
    out = []
    for name in WORKLOADS[workload]:
        if name == "stage_cold":
            out.append(Op(name, lambda s, d, c: _stage(s, d, c, False), _stage_oracle, once=True))
        elif name == "stage_resume":
            out.append(Op(name, lambda s, d, c: _stage(s, d, c, True), _stage_oracle, varies=True))
        else:
            q, sql = queries[name], oracles[name]
            out.append(Op(name, lambda s, d, c, q=q: q(s, d), lambda c, sql=sql: sql))
    return out
