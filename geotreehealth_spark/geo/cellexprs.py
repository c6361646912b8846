"""JVM-side grid-cell expressions — the zero-Python spatial index.

Round 1 encoded cells inside pandas UDFs (Morton bit-twiddling in numpy,
geo/cells.py history); profiling showed those UDF stages were the joins'
bottleneck at high parallelism — every candidate row crossed the Python
boundary just to compute a join key. Under HASH partitioning the key needs no
spatial locality, so Morton interleaving buys nothing in the join path; the
key here is plain `gx * STRIDE + gy`, computed entirely in Catalyst
(whole-stage codegen, no Python workers):

- point_cell:      cell key of a point
- covering_cells:  explode a bbox to its covering cells (sequence x sequence)
- ring_cells:      explode a point to its (2r+1)^2 ring cells

Locality for FILE layout (Iceberg sort keys) is a separate concern from join
keys; a Morton/H3 transform can still be applied at write time.

Semantics match the retired numpy versions exactly: floor-division grid,
negative coordinates clamped to cell 0 (the site frame is [0, extent) by
construction, FIXTURES.md §2), ring neighbors with negative grid coords
dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# gx/gy < 2^22 cells (~4 000 km at 1 m cells): key fits int64 with headroom
CELL_STRIDE = 1 << 22


def _gxy(x: Column, y: Column, cell_size: float) -> tuple[Column, Column]:
    # the kNN completeness proofs (operators/knn.py _dir_reach) derive each
    # probe's searched box from these same grid coordinates: a change to the
    # cell rule here changes both the cells joined and the reach proven
    gx = F.greatest(F.floor(x / F.lit(cell_size)), F.lit(0)).cast("long")
    gy = F.greatest(F.floor(y / F.lit(cell_size)), F.lit(0)).cast("long")
    return gx, gy


def cell_key(gx: Column, gy: Column) -> Column:
    return gx * F.lit(CELL_STRIDE) + gy


def point_cell(x: Column, y: Column, cell_size: float) -> Column:
    """Cell key of a point — pure Catalyst expression."""
    gx, gy = _gxy(x, y, cell_size)
    return cell_key(gx, gy)


def with_covering_cells(
    df: DataFrame,
    bounds: tuple[str, str, str, str],
    cell_size: float,
    cell_col: str = "__cell",
    gx_col: str | None = None,
    gy_col: str | None = None,
) -> DataFrame:
    """One output row per (input row, covering cell) — nested JVM explodes.

    Optionally materializes the cell's grid coords (gx_col/gy_col) for
    reporting-cell dedup arithmetic downstream.
    """
    x0, y0, x1, y1 = (F.col(c) for c in bounds)
    gx0, gy0 = _gxy(x0, y0, cell_size)
    gx1, gy1 = _gxy(x1, y1, cell_size)
    out = df.withColumn("__cgx", F.explode(F.sequence(gx0, gx1))).withColumn(
        "__cgy", F.explode(F.sequence(gy0, gy1))
    )
    out = out.withColumn(cell_col, cell_key(F.col("__cgx"), F.col("__cgy")))
    if gx_col:
        out = out.withColumn(gx_col, F.col("__cgx"))
    if gy_col:
        out = out.withColumn(gy_col, F.col("__cgy"))
    return out.drop("__cgx", "__cgy")


def with_ring_cells(
    df: DataFrame,
    x: str,
    y: str,
    cell_size: float,
    ring: int,
    cell_col: str = "__cell",
) -> DataFrame:
    """One output row per (input row, ring cell): cells within `ring` grid
    steps of the point's cell, negative neighbors dropped (not clamped —
    clamping would double-count cell 0)."""
    gx, gy = _gxy(F.col(x), F.col(y), cell_size)
    out = (
        df.withColumn("__rgx", F.explode(F.sequence(gx - ring, gx + ring)))
        .withColumn("__rgy", F.explode(F.sequence(gy - ring, gy + ring)))
        .where((F.col("__rgx") >= 0) & (F.col("__rgy") >= 0))
        .withColumn(cell_col, cell_key(F.col("__rgx"), F.col("__rgy")))
    )
    return out.drop("__rgx", "__rgy")
