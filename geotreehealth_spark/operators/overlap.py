"""Spatial self-join on overlap (SURVEY.md J9/J10) — the R-tree replacement.

Reference semantics: R-tree candidate pairs then exact intersects/IoU tests
(from_mask_to_polygons.py:11-32; get_polygons.py:806-816;
delineation_utils.py:119-131, 293-326; batch_sam.py:224-258).

Physical plan: both sides explode to bbox-covering Morton cells and equi-join
on cell_id. Duplicate pairs (bboxes sharing several cells) are eliminated
WITHOUT a distinct-shuffle by the canonical reporting-cell trick: a pair is
emitted only from the cell that contains the top-left corner of the bbox
intersection — every overlapping pair has exactly one such cell. AQE skew-join
splits dense cells (north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.geo import cellexprs


def overlap_selfjoin(
    df: DataFrame,
    id_col: str,
    cell_size: float = 50.0,
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    left_filter=None,
) -> DataFrame:
    """Pairs of rows with strictly-overlapping bboxes (a_id != b_id).

    Output columns: every input column twice, prefixed ``a_`` / ``b_``.
    ``left_filter``: optional Column predicate restricting the LEFT side (probe
    pattern); pairs are then (probe, any-other) and not symmetric-deduped.
    Without it, pairs are emitted once with a_id < b_id.
    """
    x0, y0, x1, y1 = bounds

    def prefixed(side: str, frame: DataFrame) -> DataFrame:
        sel = [F.col(c).alias(f"{side}_{c}") for c in frame.columns]
        return frame.select(*sel)

    # covering-cell explosion is pure Catalyst (geo/cellexprs.py): the whole
    # candidate pipeline — explode, equi-join, bbox predicate, reporting-cell
    # dedup — runs JVM-side with no Python boundary
    with_cells = cellexprs.with_covering_cells(
        df, bounds, cell_size, gx_col="__gx", gy_col="__gy"
    )
    left = with_cells.drop("__gx", "__gy")
    if left_filter is not None:
        left = left.where(left_filter)
    a = prefixed("a", left).withColumnRenamed("a___cell", "__cell")
    b = (
        prefixed("b", with_cells)
        .withColumnRenamed("b___cell", "__cell")
        .withColumnRenamed("b___gx", "__gx")
        .withColumnRenamed("b___gy", "__gy")
    )

    joined = a.join(b, "__cell")
    if left_filter is not None:
        joined = joined.where(F.col(f"a_{id_col}") != F.col(f"b_{id_col}"))
    else:
        joined = joined.where(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
    # strict bbox overlap
    joined = joined.where(
        (F.col(f"a_{x0}") < F.col(f"b_{x1}"))
        & (F.col(f"a_{x1}") > F.col(f"b_{x0}"))
        & (F.col(f"a_{y0}") < F.col(f"b_{y1}"))
        & (F.col(f"a_{y1}") > F.col(f"b_{y0}"))
    )
    # reporting cell = cell containing the intersection's min corner →
    # exactly-once emission, checked with pure JVM floor arithmetic (the
    # exploded struct carries the cell's grid coords, so no Python here)
    ix = F.greatest(F.col(f"a_{x0}"), F.col(f"b_{x0}"))
    iy = F.greatest(F.col(f"a_{y0}"), F.col(f"b_{y0}"))
    # clamp at 0 exactly like cells_covering_bbox does for out-of-frame bboxes
    joined = joined.where(
        (F.greatest(F.floor(ix / F.lit(cell_size)), F.lit(0)) == F.col("__gx"))
        & (F.greatest(F.floor(iy / F.lit(cell_size)), F.lit(0)) == F.col("__gy"))
    )
    return joined.drop("__cell", "__gx", "__gy")


def box_areas(
    prefix_a: str = "a_", prefix_b: str = "b_",
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
):
    """(intersection area, area a, area b) of two axis-aligned boxes as pure
    Catalyst expressions; the intersection's width and height are clamped
    at 0 after the subtraction."""
    x0, y0, x1, y1 = bounds
    a = {c: F.col(f"{prefix_a}{c}") for c in bounds}
    b = {c: F.col(f"{prefix_b}{c}") for c in bounds}
    iw = F.least(a[x1], b[x1]) - F.greatest(a[x0], b[x0])
    ih = F.least(a[y1], b[y1]) - F.greatest(a[y0], b[y0])
    inter = F.greatest(iw, F.lit(0.0)) * F.greatest(ih, F.lit(0.0))
    return inter, (a[x1] - a[x0]) * (a[y1] - a[y0]), (b[x1] - b[x0]) * (b[y1] - b[y0])


def box_iou_cols(
    prefix_a: str = "a_", prefix_b: str = "b_",
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
):
    """IoU of two axis-aligned boxes as a pure Catalyst expression."""
    inter, area_a, area_b = box_areas(prefix_a, prefix_b, bounds)
    return inter / (area_a + area_b - inter)
