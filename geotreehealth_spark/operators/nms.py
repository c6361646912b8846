"""Distributed greedy NMS with exact sequential-parity (SURVEY.md W3/W4).

Reference semantics (get_polygons.py:785-819): sort polygons by score desc,
walk the list; a polygon is suppressed iff a *kept* higher-priority polygon
overlaps it with inter/max(areaA, areaB) > threshold. Weighted variant
(batch_sam.py:692-731) uses a computed priority score and IoU > 0.5.

Greedy NMS is order-sequential and global — the classic hazard for
distribution (SURVEY.md §7 hazard 1). The engine reformulates it exactly:

1. CONFLICT GRAPH (distributed): cell-partitioned self-join (overlap.py)
   yields all pairs with overlap measure > threshold; each edge is oriented
   winner→loser by the global total order (score desc, id asc). Pair
   discovery is exact: overlapping polygons share a covering cell.
2. FIXPOINT (driver loop over tiny frontier): sequential greedy is equivalent
   to: "a node is suppressed iff it has a surviving in-neighbor". Iterate:
   nodes with no live incoming edges are decided-kept; their out-neighbors are
   decided-suppressed; edges out of suppressed nodes die. Each round decides
   at least every current source node, so rounds ≈ longest suppression chain
   (short in practice: crowns overlap a handful of neighbors). All per-round
   work is joins/aggregations on the EDGE list, which is ~O(overlapping
   pairs) — tiny relative to the input — so the driver loop is cheap and the
   heavy lifting (pair discovery) happened once, fully distributed.

This reproduces the sequential result EXACTLY (proved by parity tests vs the
reference-order numpy oracle in tests/test_spatial_parity.py), unlike
per-tile NMS which drifts at tile borders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.operators.materialize import cached, scope
from geotreehealth_spark.operators.overlap import box_areas, box_iou_cols, overlap_selfjoin
from geotreehealth_spark.operators.udfs import overlap_ratio_udf

# conflict edges up to which the fixpoint runs as a numpy loop on the driver
DRIVER_FIXPOINT_MAX = 2_000_000
# distributed fixpoint rounds (= longest suppression chain) before it raises
MAX_ROUNDS = 64


def _oriented(pairs: DataFrame, id_a: str, id_b: str, score_a: str, score_b: str) -> DataFrame:
    """(winner, loser) per pair under the global greedy order: score desc,
    id asc."""
    a_wins = (F.col(score_a) > F.col(score_b)) | (
        (F.col(score_a) == F.col(score_b)) & (F.col(id_a) < F.col(id_b))
    )
    return pairs.select(
        F.when(a_wins, F.col(id_a)).otherwise(F.col(id_b)).alias("winner"),
        F.when(a_wins, F.col(id_b)).otherwise(F.col(id_a)).alias("loser"),
    )


def nms_conflict_edges(
    polys: DataFrame,
    id_col: str,
    score_col: str,
    threshold: float,
    cell_size: float = 50.0,
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    wkb_col: str | None = None,
    area_col: str | None = None,
) -> DataFrame:
    """Directed conflict edges (winner, loser) under the global greedy order.

    The measure is the reference's overlap ratio, inter / max area
    (get_polygons.py:806-816). With wkb_col=None boxes are exact geometry;
    otherwise the polygon kernel refines the bbox candidates.

    area_col: optional TRUE polygon area column. When present, the JVM prune
    keeps only pairs with box_inter / max(poly_area) > threshold — sound for
    ANY polygons (poly_inter <= box_inter). Without it the prune is just
    box_inter > 0 (previous rounds used a convex-area >= bbox/2 claim that
    thin diagonal slivers violate — ADVICE.md round 1).

    Plan note: the cell self-join runs on SLIM columns (id, score, bbox) so
    the quadratic candidate stream never carries WKB blobs; polygon payloads
    are joined back only for the bbox-surviving pairs (orders of magnitude
    fewer) before the exact-geometry refine.
    """
    slim_cols = [id_col, score_col, *bounds] + ([area_col] if area_col else [])
    slim = polys.select(*slim_cols)
    pairs = overlap_selfjoin(slim, id_col=id_col, cell_size=cell_size, bounds=bounds)
    inter, area_a, area_b = box_areas(bounds=bounds)
    if wkb_col is None:
        measure = inter / F.greatest(area_a, area_b)
    else:
        if area_col is not None:
            sound_bound = inter / F.greatest(F.col(f"a_{area_col}"), F.col(f"b_{area_col}"))
            pairs = pairs.where(sound_bound > threshold)
        else:
            pairs = pairs.where(inter > 0.0)
        geoms = polys.select(id_col, wkb_col)
        pairs = pairs.join(
            geoms.select(
                F.col(id_col).alias(f"a_{id_col}"), F.col(wkb_col).alias(f"a_{wkb_col}")
            ),
            f"a_{id_col}",
        ).join(
            geoms.select(
                F.col(id_col).alias(f"b_{id_col}"), F.col(wkb_col).alias(f"b_{wkb_col}")
            ),
            f"b_{id_col}",
        )
        measure = overlap_ratio_udf(F.col(f"a_{wkb_col}"), F.col(f"b_{wkb_col}"))
    # no .distinct(): overlap_selfjoin's reporting-cell rule already emits
    # each unordered pair exactly once
    return _oriented(
        pairs.where(measure > threshold),
        f"a_{id_col}", f"b_{id_col}", f"a_{score_col}", f"b_{score_col}",
    )


def greedy_nms(
    polys: DataFrame,
    id_col: str,
    score_col: str,
    threshold: float = 0.3,
    cell_size: float = 50.0,
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    wkb_col: str | None = None,
    area_col: str | None = None,
    precomputed_edges: DataFrame | None = None,
) -> DataFrame:
    """polys + `selected` boolean, exactly matching sequential greedy NMS.

    The conflict-edge DISCOVERY is always fully distributed (the quadratic
    part). The fixpoint itself is O(edges x chain-depth): when the edge list
    fits on the driver (<= DRIVER_FIXPOINT_MAX int64 pairs) it runs as a
    vectorized numpy loop there — hundreds of rounds at milliseconds each
    instead of seconds per distributed round of tiny joins. Beyond the cap the
    distributed join-based fixpoint takes over (identical semantics); it
    keeps only the current round's checkpoint blocks.

    ``precomputed_edges``: optional (winner, loser) conflict edges already
    oriented by the greedy order — weighted_nms passes the edges it derives
    from its penalty pair set so the quadratic cell self-join runs ONCE per
    call instead of twice (r6; the r6 before-plan showed two full
    overlap_selfjoin subtrees).
    """
    # r6: the polys lineage is read at least twice per call (conflict-edge
    # discovery + the final selected join; 3x in weighted_nms) — persist it
    # once instead of re-deriving the upstream joins/aggregations per use
    polys = cached(polys)
    with scope() as m:
        # localCheckpoint each round: the fixpoint otherwise builds an
        # exponentially-deep logical plan (classic iterative-DataFrame trap)
        # and the driver burns all its time in Catalyst re-analysis.
        edges = m.checkpoint(
            precomputed_edges
            if precomputed_edges is not None
            else nms_conflict_edges(
                polys, id_col, score_col, threshold, cell_size, bounds, wkb_col, area_col
            )
        )
        if edges.count() <= DRIVER_FIXPOINT_MAX:
            suppressed_ids = _fixpoint_local(edges.toPandas())
            m.release(edges)
            if not suppressed_ids:
                return polys.withColumn("selected", F.lit(True))
            spark = polys.sparkSession
            from pyspark.sql.types import StructField, StructType

            id_type = polys.schema[id_col].dataType  # not hardcoded string (ADVICE.md)
            # r6: ship the suppressed ids through the Arrow createDataFrame
            # path (pandas input) — the row-tuple path pickles ~60k ids one
            # by one
            import pandas as pd

            supp_df = spark.createDataFrame(
                pd.DataFrame({id_col: suppressed_ids}),
                StructType([StructField(id_col, id_type)]),
            ).withColumn("__supp", F.lit(True))
            return (
                polys.join(F.broadcast(supp_df), id_col, "left")
                .withColumn("selected", F.col("__supp").isNull())
                .drop("__supp")
            )

        suppressed: DataFrame | None = None
        for _ in range(MAX_ROUNDS):
            if edges.limit(1).count() == 0:
                break
            # kept-for-sure: winners that are nobody's loser in the live graph
            losers = edges.select(F.col("loser").alias("id")).distinct()
            kept_now = (
                edges.select(F.col("winner").alias("id"))
                .distinct()
                .join(losers, "id", "left_anti")
            )
            # their direct losers are suppressed for good
            newly = m.checkpoint(
                edges.join(kept_now.withColumnRenamed("id", "winner"), "winner")
                .select(F.col("loser").alias("id"))
                .distinct()
            )
            if newly.limit(1).count() == 0:
                m.release(newly)
                break  # no sources left → remaining graph is empty (DAG is acyclic)
            if suppressed is None:
                suppressed = newly
            else:
                prev = suppressed
                suppressed = m.checkpoint(prev.unionByName(newly).distinct())
                m.release(prev)
                m.release(newly)
            # drop edges involving suppressed nodes (they can no longer
            # suppress), and edges whose loser is already suppressed (decided)
            prev = edges
            edges = m.checkpoint(
                edges.join(suppressed.withColumnRenamed("id", "winner"), "winner", "left_anti")
                .join(suppressed.withColumnRenamed("id", "loser"), "loser", "left_anti")
            )
            m.release(prev)
        if edges.limit(1).count() != 0:
            # never return a partial result: a suppression chain deeper than
            # MAX_ROUNDS means undecided nodes would silently default to
            # selected=True (ADVICE.md round 1) — fail loudly instead
            raise RuntimeError(
                f"greedy_nms distributed fixpoint did not converge in {MAX_ROUNDS} "
                "rounds (chain depth exceeds MAX_ROUNDS)"
            )
        m.release(edges)  # the result reads only `suppressed`
        if suppressed is None:
            return polys.withColumn("selected", F.lit(True))
        return polys.join(
            suppressed.withColumnRenamed("id", id_col).withColumn("__supp", F.lit(True)),
            id_col,
            "left",
        ).withColumn("selected", F.col("__supp").isNull()).drop("__supp")


def weighted_nms(
    polys: DataFrame,
    id_col: str,
    priority_col: str,
    threshold: float = 0.5,
    cell_size: float = 50.0,
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    score_col: str = "wscore",
) -> DataFrame:
    """W4 weighted NMS (batch_sam.py:692-731): score = priority - Σ overlap.

    Reference semantics: per polygon, priority (crwnpst + DBH via identity
    funcs, batch_sam.py:579-580) minus the sum of pairwise box IoUs that
    exceed the threshold (batch_sam.py:699); polygons are then processed
    greedily in score order, keeping those whose IoU with every kept polygon
    is <= threshold.

    Determinism note (documented deviation, SURVEY.md §7 style): the overlap
    penalty sums doubles over a variable-cardinality neighbor set, whose IEEE
    result is summation-order-dependent — a hazard for both distributed
    reproducibility and the SQL oracle. The engine therefore quantizes each
    pairwise overlap to integer micro-units (round(m * 1e6)) and sums int64,
    which is order-independent and exact in both engines; the final score is
    priority - penalty_micro / 1e6.
    """
    polys = cached(polys)  # read by the pair join AND the scored join (r6)
    slim = polys.select(id_col, *bounds)
    pairs = overlap_selfjoin(slim, id_col=id_col, cell_size=cell_size, bounds=bounds)
    # r6: ONE quadratic pair-discovery pass. The threshold-surviving pairs
    # feed BOTH the penalty aggregation and (with wscore attached per
    # endpoint by two slim id-joins) the greedy conflict edges — previously
    # greedy_nms re-ran the whole cell self-join on the scored table, so the
    # dominant quadratic stage executed twice with identical pair output.
    contrib = (
        pairs.withColumn("__m", box_iou_cols(bounds=bounds))
        .where(F.col("__m") > threshold)
        .select(
            F.col(f"a_{id_col}").alias("__ida"),
            F.col(f"b_{id_col}").alias("__idb"),
            "__m",
        )
        .persist()
    )
    both = contrib.select(F.col("__ida").alias(id_col), F.col("__m")).unionByName(
        contrib.select(F.col("__idb").alias(id_col), F.col("__m"))
    )
    penalty = both.groupBy(id_col).agg(
        F.sum(F.round(F.col("__m") * 1e6).cast("long")).alias("__pen_micro")
    )
    scored = (
        polys.join(penalty, id_col, "left")
        .withColumn(
            score_col,
            F.col(priority_col)
            - F.coalesce(F.col("__pen_micro"), F.lit(0)).cast("double") / 1e6,
        )
        .drop("__pen_micro")
        # r6: read 3x (both edge-orientation sides + the final selected join
        # inside greedy_nms) — persist so the penalty agg runs once
        .persist()
    )
    sc = scored.select(F.col(id_col), F.col(score_col))
    oriented = contrib.join(
        sc.select(F.col(id_col).alias("__ida"), F.col(score_col).alias("__sa")), "__ida"
    ).join(
        sc.select(F.col(id_col).alias("__idb"), F.col(score_col).alias("__sb")), "__idb"
    )
    return greedy_nms(
        scored, id_col=id_col, score_col=score_col, threshold=threshold,
        cell_size=cell_size, bounds=bounds, wkb_col=None,
        precomputed_edges=_oriented(oriented, "__ida", "__idb", "__sa", "__sb"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders: greedy NMS as an UNROLLED fixpoint
# ---------------------------------------------------------------------------
# Greedy NMS is order-sequential, so plain SQL can't express it directly; but
# the engine's fixpoint reformulation ("round k suppresses the losers of all
# current source nodes") terminates in rounds = longest suppression chain.
# The oracle UNROLLS that loop to a fixed depth as chained materialized CTEs —
# exact as long as depth >= the true chain length, which the builder takes as
# a parameter (verified empirically at the gate's sf; a too-small depth shows
# up as a value mismatch, never a silent false-pass on the suppressed side,
# because missing rounds only UNDER-suppress the oracle while the engine
# raises on its own non-convergence).

def _box_areas_duck(bounds) -> tuple[str, str, str]:
    """(inter, area_a, area_b) box SQL mirroring overlap.box_areas
    term-for-term: iw/ih are clamped AFTER the subtractions."""
    x0, y0, x1, y1 = bounds
    iw = f"GREATEST(LEAST(a.{x1}, b.{x1}) - GREATEST(a.{x0}, b.{x0}), 0e0)"
    ih = f"GREATEST(LEAST(a.{y1}, b.{y1}) - GREATEST(a.{y0}, b.{y0}), 0e0)"
    area_a = f"(a.{x1} - a.{x0}) * (a.{y1} - a.{y0})"
    area_b = f"(b.{x1} - b.{x0}) * (b.{y1} - b.{y0})"
    return f"{iw} * {ih}", area_a, area_b


def nms_fixpoint_rounds_sql(conflicts_cte: str, rounds: int) -> str:
    """Chained CTE rounds over a ``conflicts(winner, loser)`` CTE; ends with
    ``supp(id)`` = all suppressed nodes. Caller appends the final SELECT."""
    parts = [f"e0 AS MATERIALIZED (SELECT winner, loser FROM {conflicts_cte})"]
    for k in range(1, rounds + 1):
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT DISTINCT loser AS id FROM e{k-1} "
            f"WHERE winner NOT IN (SELECT loser FROM e{k-1}))"
        )
        parts.append(
            f"e{k} AS MATERIALIZED (SELECT winner, loser FROM e{k-1} "
            f"WHERE winner NOT IN (SELECT id FROM s{k}) "
            f"AND loser NOT IN (SELECT id FROM s{k}))"
        )
    union = "\nUNION\n".join(f"SELECT id FROM s{k}" for k in range(1, rounds + 1))
    parts.append(f"supp AS ({union})")
    return ",\n".join(parts)


def greedy_nms_box_oracle_sql(
    polys_sql: str,
    id_col: str,
    score_col: str,
    threshold: float,
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    rounds: int = 24,
) -> str:
    """DuckDB twin of greedy_nms over BOX geometry: (id, selected)."""
    x0, y0, x1, y1 = bounds
    inter, area_a, area_b = _box_areas_duck(bounds)
    measure = f"({inter}) / GREATEST({area_a}, {area_b})"
    a_wins = (
        f"(a.{score_col} > b.{score_col} OR "
        f"(a.{score_col} = b.{score_col} AND a.{id_col} < b.{id_col}))"
    )
    return f"""
WITH polys AS MATERIALIZED ({polys_sql}),
conflicts AS MATERIALIZED (
    SELECT CASE WHEN {a_wins} THEN a.{id_col} ELSE b.{id_col} END AS winner,
           CASE WHEN {a_wins} THEN b.{id_col} ELSE a.{id_col} END AS loser
    FROM polys a JOIN polys b
      ON a.{id_col} < b.{id_col}
     AND a.{x0} < b.{x1} AND a.{x1} > b.{x0}
     AND a.{y0} < b.{y1} AND a.{y1} > b.{y0}
    WHERE {measure} > {threshold!r}
),
{nms_fixpoint_rounds_sql('conflicts', rounds)}
SELECT {id_col}, {id_col} NOT IN (SELECT id FROM supp) AS selected FROM polys
"""


def weighted_nms_box_oracle_sql(
    polys_sql: str,
    id_col: str,
    priority_col: str,
    threshold: float,
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    rounds: int = 24,
) -> str:
    """DuckDB twin of weighted_nms: quantized penalty, then the fixpoint."""
    x0, y0, x1, y1 = bounds
    inter, area_a, area_b = _box_areas_duck(bounds)
    measure = f"({inter}) / ({area_a} + {area_b} - ({inter}))"
    score = f"{priority_col} - CAST(COALESCE(pen.pen_micro, 0) AS DOUBLE) / 1e6"
    a_wins = "(a.wscore > b.wscore OR (a.wscore = b.wscore AND a.{i} < b.{i}))".format(
        i=id_col
    )
    return f"""
WITH rawpolys AS MATERIALIZED ({polys_sql}),
ovl AS MATERIALIZED (
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, {measure} AS m
    FROM rawpolys a JOIN rawpolys b
      ON a.{id_col} < b.{id_col}
     AND a.{x0} < b.{x1} AND a.{x1} > b.{x0}
     AND a.{y0} < b.{y1} AND a.{y1} > b.{y0}
    WHERE {measure} > {threshold!r}
),
both_sides AS (
    SELECT id_a AS {id_col}, m FROM ovl UNION ALL SELECT id_b AS {id_col}, m FROM ovl
),
pen AS (
    SELECT {id_col}, SUM(CAST(ROUND(m * 1e6) AS BIGINT)) AS pen_micro
    FROM both_sides GROUP BY {id_col}
),
polys AS MATERIALIZED (
    SELECT p.*, {score} AS wscore
    FROM rawpolys p LEFT JOIN pen USING ({id_col})
),
conflicts AS MATERIALIZED (
    SELECT CASE WHEN {a_wins} THEN a.{id_col} ELSE b.{id_col} END AS winner,
           CASE WHEN {a_wins} THEN b.{id_col} ELSE a.{id_col} END AS loser
    FROM polys a JOIN polys b
      ON a.{id_col} < b.{id_col}
     AND a.{x0} < b.{x1} AND a.{x1} > b.{x0}
     AND a.{y0} < b.{y1} AND a.{y1} > b.{y0}
    WHERE {measure} > {threshold!r}
),
{nms_fixpoint_rounds_sql('conflicts', rounds)}
SELECT {id_col}, wscore, {id_col} NOT IN (SELECT id FROM supp) AS selected FROM polys
"""


def _fixpoint_local(edge_pdf) -> list:
    """Vectorized greedy fixpoint on the driver: same rule as the distributed
    loop (a node is suppressed iff a surviving winner points at it), numpy
    per-round. Returns the suppressed ids."""
    import numpy as np
    import pandas as pd

    if len(edge_pdf) == 0:
        return []
    # r6: pd.factorize (hash-based, O(n)) instead of np.unique, which SORTS
    # the ~2x|edges| id strings (~0.4 s at 264k edges); the integer coding
    # differs but the suppressed id SET is identical
    codes, all_ids = pd.factorize(
        np.concatenate([edge_pdf["winner"].to_numpy(), edge_pdf["loser"].to_numpy()])
    )
    all_ids = np.asarray(all_ids)
    m = len(edge_pdf)
    w = codes[:m]
    l = codes[m:]
    n = len(all_ids)
    alive = np.ones(m, dtype=bool)
    suppressed = np.zeros(n, dtype=bool)
    while alive.any():
        is_loser = np.zeros(n, dtype=bool)
        is_loser[l[alive]] = True
        # edges whose winner is a source (kept for sure) suppress their loser
        decide = alive & ~is_loser[w]
        new_supp = l[decide]
        if len(new_supp) == 0:
            break  # acyclic graph: cannot happen while edges remain
        suppressed[new_supp] = True
        alive &= ~suppressed[w] & ~suppressed[l]
    return all_ids[suppressed].tolist()
