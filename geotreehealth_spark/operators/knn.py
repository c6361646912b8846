"""Exact distributed kNN via grid-cell candidate pruning (SURVEY.md J5/J6).

Reference semantics:
- J5: per target point, euclidean distances to candidates, argsort, take k
  (get_polygons.py:326-329; neighbors=6 per config.py:49).
- J6: cardinal-quadrant variant — nearest candidate per NW/NE/SW/SE bucket,
  dropping candidates closer than ``remove_too_close`` = 3 m
  (batch_sam.py:427-460, 195-207; config.py:34).

Both operators run one prove-or-escalate driver (`_prove_or_escalate`); they
differ only in their cell sizing, their per-probe winners (one row per slot:
`knn_rank` 1..k, or `quadrant`) and each slot's proof reach.
1. ring r: unproven probes explode to their (2r+1)^2 ring cells → equi-join
   with the cell-keyed candidate side on cell_id → distance expression →
   winners per (probe, slot).
2. a probe is PROVEN when every slot is settled: its winner lies strictly
   inside the slot's reach — the distance the searched box is guaranteed to
   cover in the slot's directions (`_dir_reach`) — or the box already covers
   the candidate DATA BOUNDS (min/max of the right side, one tiny agg) in
   those directions, so whatever was found is all there is.
3. proven winners are re-attached to their full rows and, with the tagged
   unproven residue, written by ONE localCheckpoint job; the residue count
   then reads those blocks. The residue escalates with a 4x ring, and goes
   to an exact crossJoin once residue x candidates is cheap, the ring spans
   the site, or after four ring rounds. At forest density ring 1 proves
   every probe, so a call costs the bounds agg, one checkpoint job and the
   residue count.

Why this scales: the join is a plain shuffle equi-join on int64 cell keys —
AQE skew-splits hot cells — and the completeness proofs make the result EXACT
(not approximate) without ever materializing the cross product.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotreehealth_spark.geo import cellexprs
from geotreehealth_spark.operators.components import _checkpoint_tracked
from geotreehealth_spark.operators.pip_join import distance_expr

# ring growth per escalation round
ESCALATION = 4
# ring rounds (rings 1, 4, 16, 64) before the residue goes to the crossJoin
MAX_ROUNDS = 4
# residue x candidate rows up to which the exact crossJoin beats another ring
# round (r2: one straggler otherwise burns O(log extent) rounds; r4 raised it
# from 50M after a 137 x 457k = 62M quadrant residue just missed the switch
# and paid 2 extra barrier rounds) — ~0.5M distance rows/task at 128 tasks
CROSS_JOIN_ROWS = 500_000_000
# crossJoin task-count clamp: a 4-probe residue otherwise inherits the probe
# side's partitioning and fans into ~96 near-empty tasks (measured ~3 s of
# the sf0.1 quadrant call); ~2M distance rows per task is < 1 s of work.
# The residue is repartitioned, not coalesced: its rows sit in the few
# checkpoint partitions of the residue piece, and a coalesce left one task
# with the whole crossJoin (a 319-probe x 30k-candidate residue on 4 cores:
# 11 s vs 3.5 s)
ROWS_PER_TASK = 2_000_000
MAX_TASKS = 64

QUADRANTS = ("NE", "SE", "NW", "SW")


def _data_bounds(
    right: DataFrame, rx: str, ry: str, right_id: str
) -> tuple[float, float, float, float, int] | None:
    """(xmin, xmax, ymin, ymax, count) of the candidate side — one agg job
    shared by the coverage proofs, the density-based cell sizing and the
    right-id contract check. Returns None when the candidate side is empty
    (the min/max come back NULL). Raises ValueError on a NULL right id."""
    b = right.agg(
        F.min(rx).alias("x0"), F.max(rx).alias("x1"),
        F.min(ry).alias("y0"), F.max(ry).alias("y1"),
        F.count("*").alias("n"),
        F.count(F.when(F.col(right_id).isNull(), 1)).alias("null_ids"),
    ).first()
    if b.null_ids:
        raise ValueError(f"knn: {b.null_ids} candidate rows have a NULL {right_id!r}")
    if b.x0 is None:
        return None
    return float(b.x0), float(b.x1), float(b.y0), float(b.y1), int(b.n)


def _dir_reach(
    probes: DataFrame,
    lx: str,
    ly: str,
    cell_size: float,
    ring: int,
    bounds: tuple[float, float, float, float],
) -> tuple[DataFrame, dict[str, Column]]:
    """Per-probe, per-direction guaranteed search reach of the ring-r box,
    as columns of `probes` (projected once, so the slots' proof conditions
    reference them instead of each copying the whole expression), with a
    {direction: column} map over them.

    The searched cells around a probe in cell (gx, gy) cover
    [(gx-r)*s, (gx+r+1)*s) x [(gy-r)*s, (gy+r+1)*s) — so the probe's
    guaranteed reach is ``x - (gx-r)*s`` on the closed low edge and
    ``(gx+r+1)*s - x`` on the open high edge of each axis: always >= r*s,
    up to (r+1)*s. A direction whose DATA bound already lies within that
    reach constrains nothing (no candidate can exist beyond the bound), so
    it contributes +inf. Soundness: an unsearched candidate in direction +x
    has fl(rx/s) > gx+r, hence rx >= (gx+r+1)*s, hence dist >= reach_xp;
    low edges are closed, so the bound-covered arms there use <= while the
    open high edges use <. gx/gy are the join's own cell coordinates
    (cellexprs._gxy), so the proof and the searched cells cannot drift.

    A proof only decides whether a probe escalates, but an unsound one
    would keep a probe's incomplete winners: tests/test_knn_edge.py checks
    both operators against a brute force on cell and bounds edges, +-1 ULP.
    """
    bx0, bx1, by0, by1 = bounds
    s = F.lit(float(cell_size))
    x, y = F.col(lx), F.col(ly)
    inf = F.lit(float("inf"))
    gx, gy = (g.cast("double") for g in cellexprs._gxy(x, y, cell_size))
    dxm = x - (gx - ring) * s
    dxp = (gx + ring + 1) * s - x
    dym = y - (gy - ring) * s
    dyp = (gy + ring + 1) * s - y
    reach = {
        "xm": F.when(x - F.lit(bx0) <= dxm, inf).otherwise(dxm),
        "xp": F.when(F.lit(bx1) - x < dxp, inf).otherwise(dxp),
        "ym": F.when(y - F.lit(by0) <= dym, inf).otherwise(dym),
        "yp": F.when(F.lit(by1) - y < dyp, inf).otherwise(dyp),
    }
    out = probes.select("*", *[c.alias(f"__{d}") for d, c in reach.items()])
    return out, {d: F.col(f"__{d}") for d in reach}


def _cached(df: DataFrame) -> tuple[DataFrame, bool]:
    """persist df unless the CALLER already persisted it — unpersisting a
    caller's cache on exit would silently drop their working set. Returns
    (df, owned): owned=True means this call should unpersist it."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df, False
    return df.persist(), True


def _argmin(cands: DataFrame, left_id: str, right_id: str, slot: str) -> DataFrame:
    """Per (probe, slot), the (dist asc, right_id asc) first candidate.

    Two-phase exact argmin instead of a rank window: min(dist) is a
    fixed-width HashAggregate with map-side partial combine, so the shuffle
    moves ~one row per group, not every candidate row (profiled at sf0.1:
    the quadrant window's sort-exchange of 1.7M candidates was 6.3 s of a
    12 s call). The struct-min tie-break takes the SortAggregate fallback,
    but only over the min-dist matches; over all candidates it was measured
    as slow as the window (r4). The candidates are recomputed for the second
    phase, not persisted: re-running the cell join against the cached right
    side beats caching the larger candidate set (r6 A/B at sf0.1: knn 2.63 s
    vs 3.82 s, quadrant 8.6 s vs 9.9 s, every pass). The crossJoin fallback
    too: for a k=1 residue of 319 x 30k rows (4 cores) it beat the window,
    ~7.7 s vs ~9.9 s per call."""
    keys = [left_id, slot]
    m = cands.groupBy(*keys).agg(F.min("dist").alias("__md"))
    return (
        cands.join(m, keys)
        .where(F.col("dist") == F.col("__md"))
        .groupBy(*keys)
        .agg(F.min(F.struct("dist", right_id)).alias("__w"))
        .select(*keys, "__w.dist", f"__w.{right_id}")
    )


def _proven(
    rem: DataFrame, win: DataFrame, left_id: str, slot: str, slots: tuple,
    reach: list[Column],
) -> DataFrame:
    """Ids of the probes in `rem` whose winners are final: for every slot,
    its reach is +inf (the searched box covers every candidate the slot
    could hold, so whatever was found is all there is) or its winner lies
    strictly inside the reach (nothing unsearched can displace it)."""
    dists = win.groupBy(left_id).agg(*[
        F.min(F.when(F.col(slot) == s, F.col("dist"))).alias(f"__d{i}")
        for i, s in enumerate(slots)
    ])
    settled = [
        (r == F.lit(float("inf"))) | F.coalesce(F.col(f"__d{i}") < r, F.lit(False))
        for i, r in enumerate(reach)
    ]
    # probe-proportional sets join without a broadcast hint — AQE decides
    return rem.join(dists, left_id, "left").where(reduce(Column.__and__, settled)).select(left_id)


def _prove_or_escalate(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    extent: float,
    min_dist: float | None,
    cell_size: float | None,
    auto_cell: Callable[[float], float],
    slot: str,
    slots: tuple,
    winners: Callable[[DataFrame], DataFrame],
    slot_reach: Callable[[dict[str, Column], tuple], list[Column]],
) -> DataFrame:
    """The prove-or-escalate loop behind knn_join and quadrant_knn_join.

    auto_cell(density): the grid cell size when `cell_size` is None, from
    the candidates per unit area.
    winners(cands): candidate rows (left_id, lx, ly, right_id, rx, ry, dist)
    -> winner rows (left_id, slot, dist, right_id), at most one per probe
    and slot value in `slots`.
    slot_reach(reach, bounds): per slot, in `slots` order, the distance
    within which a winner is final, from `_dir_reach`'s per-direction
    reach columns and the candidate data bounds.
    Output: all left columns + right columns + dist + slot.
    """
    lx, ly = left_xy
    rx, ry = right_xy
    sc = left.sparkSession.sparkContext
    # ONE scan of each side feeds the bounds agg, the cell-keyed join input,
    # every round and the enrichment — profiling at sf0.1 showed each re-scan
    # of a synthesized right side costs ~2.5 s
    right_mat, right_owned = _cached(right)
    left_mat, left_owned = _cached(left)
    persisted = [df for df, own in ((right_mat, right_owned), (left_mat, left_owned)) if own]
    blocks: list = []  # checkpoint RDDs: the result's storage, released on failure
    # slim projections: candidates, winners and proofs move ONLY (id, x, y,
    # dist); enrich() re-attaches the full rows to the ~|left|*slots winners
    left_slim = left_mat.select(left_id, lx, ly)
    right_slim = right_mat.select(right_id, rx, ry)

    def candidates(rem: DataFrame, ring: int | None) -> DataFrame:
        # ring None: the exact crossJoin (residue fallback, empty right side)
        if ring is None:
            c = rem.crossJoin(right_slim)
        else:
            c = cellexprs.with_ring_cells(rem, lx, ly, size, ring).join(right_cells, "__cell")
        c = c.drop("__cell").withColumn(
            "dist", distance_expr(F.col(lx), F.col(ly), F.col(rx), F.col(ry))
        )
        return c if min_dist is None else c.where(F.col("dist") >= min_dist)

    def enrich(win: DataFrame) -> DataFrame:
        # winners -> full output rows: AQE broadcasts the slim winner set and
        # streams the cached left/right sides — no wide shuffles
        return (
            win.select(left_id, right_id, "dist", slot)
            .join(left_mat, left_id)
            .join(right_mat, right_id)
            .select(*left.columns, *right.columns, "dist", slot)
        )

    def checkpoint(df: DataFrame) -> DataFrame:
        # localCheckpoint blocks cannot be released through the DataFrame API
        # (ADVICE r3); tracking their RDDs lets a failed call release them
        out, created = _checkpoint_tracked(df, sc)
        blocks.extend(created)
        return out

    try:
        bounds = _data_bounds(right_mat, rx, ry, right_id)
        if bounds is None:
            # empty candidate side: the same plan over no candidates yields
            # zero rows with the full output schema; limit(0) (read by
            # candidates() at call time) lets Catalyst prune it without a job
            right_slim = right_slim.limit(0)
            return enrich(winners(candidates(left_slim, None)))
        box, n_right = bounds[:4], bounds[4]
        size = cell_size if cell_size is not None else auto_cell(n_right / (extent * extent))
        right_cells = right_slim.withColumn(
            "__cell", cellexprs.point_cell(F.col(rx), F.col(ry), size)
        )
        max_ring = max(int(math.ceil(extent / size)) + 1, 2)
        goods: list[DataFrame] = []
        rem, ring, n_rem = left_slim, 1, 0
        for rnd in range(MAX_ROUNDS + 1):
            # ring 1 always runs (max_ring >= 2); the residue of a later round
            # goes to the crossJoin when that is cheap, when the ring spans
            # the site, or after MAX_ROUNDS ring rounds
            if rnd and (
                rnd == MAX_ROUNDS or ring >= max_ring or n_rem * n_right <= CROSS_JOIN_ROWS
            ):
                parts = min(n_rem * n_right // ROWS_PER_TASK + 1, MAX_TASKS)
                win = winners(candidates(rem.repartition(parts), None))
                goods.append(checkpoint(enrich(win)))
                break
            win = winners(candidates(rem, ring)).persist()  # proof, good piece
            persisted.append(win)
            probes, reach = _dir_reach(rem, lx, ly, size, ring, box)
            proven = _proven(probes, win, left_id, slot, slots, slot_reach(reach, box))
            good = enrich(win.join(proven, left_id, "left_semi"))
            # the unproven probes ride the same checkpoint as output-shaped
            # rows tagged __residue, so deciding whether to escalate costs a
            # block read, not another job
            residue = rem.join(proven, left_id, "left_anti").select(*[
                F.col(f.name) if f.name in (left_id, lx, ly)
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in good.schema.fields
            ])
            chk = checkpoint(
                good.withColumn("__residue", F.lit(False)).unionByName(
                    residue.withColumn("__residue", F.lit(True))
                )
            )
            goods.append(chk.where(~F.col("__residue")).drop("__residue"))
            rem = chk.where(F.col("__residue")).select(left_id, lx, ly)
            # a NULL left id never matches the proofs' equi-joins, so it
            # always lands here; checked in the residue read, not a new job
            n_rem, null_ids = rem.agg(
                F.count("*"), F.count(F.when(F.col(left_id).isNull(), 1))
            ).first()
            if null_ids:
                raise ValueError(f"knn: {null_ids} probe rows have a NULL {left_id!r}")
            if n_rem == 0:
                break
            ring *= ESCALATION
        return reduce(DataFrame.unionByName, goods)
    except BaseException:
        # a failed call must not leak checkpoint blocks into a long-lived
        # session (on success they ARE the result's storage)
        for rdd in blocks:
            rdd.unpersist()
        raise
    finally:
        # the result reads only checkpoint blocks — the caches can go
        for df in persisted:
            df.unpersist()


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    right_id: str,
    cell_size: float | None = None,
    left_xy: tuple[str, str] = ("x", "y"),
    right_xy: tuple[str, str] = ("cx", "cy"),
    extent: float = 1000.0,
    min_dist: float | None = None,
) -> DataFrame:
    """Exact k nearest `right` rows per `left` row; ties broken by right_id.

    Output: all left columns + right columns + `dist` + `knn_rank` (1..k).
    CONTRACT: ``left_id`` / ``right_id`` must be non-null and unique per
    side — winners are re-attached to their full rows via equi-joins on
    these ids, so a NULL id raises ValueError and a duplicated id multiplies
    its matches.
    ``min_dist``: drop candidates strictly closer than this (reference's
    remove_too_close, batch_sam.py:430-432) before ranking.
    """

    def auto_cell(density: float) -> float:
        # aim for ring-1 sufficiency: cell ~ 1.25x expected k-th radius under
        # uniform density (r3 used 2x; the tighter cell cuts the candidate
        # join fan-out ~2.5x and escalation handles sparse regions exactly)
        return max(min(1.25 * math.sqrt(k / density), extent / 2), extent / 4096)

    rank = Window.partitionBy(left_id).orderBy(F.col("dist").asc(), F.col(right_id).asc())

    def winners(cands: DataFrame) -> DataFrame:
        if k == 1:
            return _argmin(cands.withColumn("knn_rank", F.lit(1)), left_id, right_id, "knn_rank")
        return cands.withColumn("knn_rank", F.row_number().over(rank)).where(
            F.col("knn_rank") <= k
        )

    # the k ranks share one reach: the k-th winner inside it proves all k
    return _prove_or_escalate(
        left, right, left_id, right_id, left_xy, right_xy, extent, min_dist,
        cell_size, auto_cell, slot="knn_rank", slots=tuple(range(1, k + 1)), winners=winners,
        slot_reach=lambda reach, _bounds: [F.least(*reach.values())] * k,
    )


def quadrant_knn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    cell_size: float | None = None,
    left_xy: tuple[str, str] = ("x", "y"),
    right_xy: tuple[str, str] = ("cx", "cy"),
    extent: float = 1000.0,
    min_dist: float = 3.0,
) -> DataFrame:
    """J6: nearest `right` per cardinal quadrant around each `left` point.

    Quadrant of candidate = (dx >= 0, dy >= 0) → NE/NW/SE/SW. Documented
    deviation from the reference's find_cardinal_direction
    (batch_sam.py:195-207), which maps (x2>x1, y2>y1) to 'SE' (its y axis is
    image-down) and keeps dist strictly > remove_too_close: the engine uses
    math-up axes (NE = +x,+y) and an inclusive dist >= min_dist boundary; the
    SQL oracle encodes the engine's convention (ADVICE.md round 1 asked for
    the docstring to say so). Candidates with dist < min_dist are dropped
    first (batch_sam.py:430-432, config.py:34). Output: left/right columns +
    dist + quadrant (one row per non-empty quadrant, ≤ 4 per left point).
    CONTRACT: ``left_id`` / ``right_id`` non-null and unique per side — same
    re-attachment by equi-join as knn_join, same ValueError on a NULL id and
    row multiplication on a duplicate.

    Completeness proof per (left, quadrant): found-best dist < the reach of
    the quadrant's two directions, OR the quadrant's intersection with the
    candidate DATA BOUNDS is covered by the ring box or empty.
    """
    lx, ly = left_xy
    rx, ry = right_xy
    east, north = F.col(rx) >= F.col(lx), F.col(ry) >= F.col(ly)
    quadrant = (
        F.when(east & north, F.lit("NE")).when(east, F.lit("SE"))
        .when(north, F.lit("NW")).otherwise(F.lit("SW"))
    )

    def auto_cell(density: float) -> float:
        # 6x mean spacing: the binding constraint is PROOF coverage, not
        # fan-out. With the exact per-probe reach and the empty-quadrant arms
        # the ring-1 proof reaches 1-2 cells per direction, so the cell can be
        # 6x — ~0.56x the candidate fan-out of 8x — while the residue stays 0;
        # at 5x the residue returns. Interleaved min-of-3 A/B at sf0.1 (r6):
        # 6x 6.23 s vs 8x 7.39 vs 5x 7.29; 6x won every pass, same rows.
        return max(min(6.0 * math.sqrt(1.0 / density), extent / 2), extent / 1024)

    def winners(cands: DataFrame) -> DataFrame:
        return _argmin(cands.withColumn("quadrant", quadrant), left_id, right_id, "quadrant")

    def slot_reach(reach: dict[str, Column], bounds: tuple) -> list[Column]:
        # a quadrant's reach is the min of its two directions' reaches (+inf
        # where the ring box covers the data bounds). Third arm: a quadrant
        # whose half-plane lies outside the data bounds is provably empty —
        # e.g. the west quadrants need cx < px, impossible when px <= bx0.
        # Without it the corner probe at the site origin, whose outward
        # quadrants are empty but unbounded along one axis, paid the whole
        # escalation path (r6: the one residue probe at sf0.1). West/south
        # are strict half-planes (cx < px), east/north inclusive (cx >= px),
        # mirroring `quadrant` exactly.
        bx0, bx1, by0, by1 = bounds
        x, y = F.col(lx), F.col(ly)
        no_w, no_e, no_s, no_n = x <= bx0, x > bx1, y <= by0, y > by1
        inf = F.lit(float("inf"))
        return [
            F.when(no_e | no_n, inf).otherwise(F.least(reach["xp"], reach["yp"])),
            F.when(no_e | no_s, inf).otherwise(F.least(reach["xp"], reach["ym"])),
            F.when(no_w | no_n, inf).otherwise(F.least(reach["xm"], reach["yp"])),
            F.when(no_w | no_s, inf).otherwise(F.least(reach["xm"], reach["ym"])),
        ]

    return _prove_or_escalate(
        left, right, left_id, right_id, left_xy, right_xy, extent, min_dist,
        cell_size, auto_cell, slot="quadrant", slots=QUADRANTS, winners=winners,
        slot_reach=slot_reach,
    )
