"""Deterministic interleaved-docs generator (FIXTURES.md §1 span conventions).

Builds the docs table FROM the synth-derived entity views with pure DataFrame
ops: attribute payloads become an `attr` span (header-free CSV fragment, like
the reference's labels CSV rows, store_data_structures.py:174-183), geometries
become a `geom` span carrying hex WKB in media_ref (reference GPKG geometries,
delineation_pipeline.py:64,177), raster/lidar tiles become `raster`/`lidar`
spans with hsi:// media refs (reference GeoTIFF/LAZ paths,
store_data_structures.py:176-178). A `meta` span routes rows to tables.

Crown geometries are irregular convex polygons generated deterministically
from crown_key (star vertices → convex hull) — exercising the real WKB path
that the box-based SQL oracles cannot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, StructField, StructType

from geotreehealth_spark.geo import kernels, wkb

SPAN_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _span(kind, text, media_ref, offset: int):
    return F.struct(
        F.lit(kind).alias("kind") if isinstance(kind, str) else kind.alias("kind"),
        (F.lit(text) if isinstance(text, str) else text).alias("text"),
        (F.lit(media_ref) if isinstance(media_ref, str) else media_ref).alias("media_ref"),
        F.lit(offset).cast("int").alias("offset"),
    )


def crown_polygon_ring(key: int, cx: float, cy: float, radius: float) -> np.ndarray:
    """Deterministic convex crown polygon around (cx, cy).

    Star vertices at n=6..12 angles with per-vertex radius jitter derived from
    integer hashing of (key, vertex) — then convex-hulled. Pure arithmetic, no
    RNG state: reproducible everywhere.
    """
    n = 6 + (key % 7)
    j = np.arange(n, dtype=np.int64)
    phase = (key % 997) * (2.0 * np.pi / 997.0)
    ang = phase + 2.0 * np.pi * j / n
    jitter = ((key * 2654435761 + (j + 1) * 40503) % 1000) / 1000.0
    r = radius * (0.70 + 0.30 * jitter)
    pts = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    return kernels.convex_hull(pts)


# one combined UDF: polygon WKB + bounds in a single pass, so Catalyst cannot
# inline-and-recompute the expensive polygon build once per derived column
_CROWN_GEO_TYPE = StructType(
    [
        StructField("wkb", BinaryType()),
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
        StructField("area", DoubleType()),
    ]
)


@F.pandas_udf(_CROWN_GEO_TYPE)
def crown_geo_udf(
    key: pd.Series, cx: pd.Series, cy: pd.Series, radius: pd.Series
) -> pd.DataFrame:
    wkbs, xmin, ymin, xmax, ymax, area = [], [], [], [], [], []
    for k, x, y, r in zip(key, cx, cy, radius):
        ring = crown_polygon_ring(int(k), float(x), float(y), float(r))
        wkbs.append(wkb.encode_polygon(ring))
        mn = ring.min(axis=0)
        mx = ring.max(axis=0)
        xmin.append(mn[0])
        ymin.append(mn[1])
        xmax.append(mx[0])
        ymax.append(mx[1])
        # true polygon area alongside the bbox: greedy_nms's sound JVM prune
        # (box_inter / max(poly_area) > threshold) needs it
        area.append(kernels.polygon_area(ring))
    return pd.DataFrame(
        {"wkb": wkbs, "xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax, "area": area}
    )


@F.pandas_udf(BinaryType())
def two_rect_mask_udf(
    ar0: pd.Series, ac0: pd.Series, ah: pd.Series, aw: pd.Series,
    br0: pd.Series, bc0: pd.Series, bh: pd.Series, bw: pd.Series,
) -> pd.Series:
    """100x100 boolean mask = union of two integer rectangles, packed bits.

    Deterministic synthetic SAM-mask stand-in for the polygonize driver query:
    the rect params are pure int arithmetic on keys, so component count and
    union pixel count have closed forms the SQL oracle reproduces."""
    out = []
    for a_r, a_c, a_h, a_w, b_r, b_c, b_h, b_w in zip(
        ar0, ac0, ah, aw, br0, bc0, bh, bw
    ):
        m = np.zeros((100, 100), dtype=np.uint8)
        m[int(a_r):int(a_r + a_h), int(a_c):int(a_c + a_w)] = 1
        m[int(b_r):int(b_r + b_h), int(b_c):int(b_c + b_w)] = 1
        out.append(np.packbits(m).tobytes())
    return pd.Series(out)


@F.pandas_udf(BinaryType())
def two_box_multi_udf(
    x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series,
    u0: pd.Series, v0: pd.Series, u1: pd.Series, v1: pd.Series,
) -> pd.Series:
    """MultiPolygon WKB of two axis-aligned boxes (P8 explode fixtures)."""
    out = []
    for a0, b0, a1, b1, c0, d0, c1, d1 in zip(x0, y0, x1, y1, u0, v0, u1, v1):
        r1 = np.array([[a0, b0], [a1, b0], [a1, b1], [a0, b1], [a0, b0]], float)
        r2 = np.array([[c0, d0], [c1, d0], [c1, d1], [c0, d1], [c0, d0]], float)
        out.append(wkb.encode_multipolygon([r1, r2]))
    return pd.Series(out)


@F.pandas_udf(ArrayType(DoubleType()))
def ring_bounds_udf(geom: pd.Series) -> pd.Series:
    xmin, ymin, xmax, ymax = wkb.polygon_bounds(list(geom))
    return pd.Series(np.stack([xmin, ymin, xmax, ymax], axis=1).tolist())


@F.pandas_udf(BinaryType())
def point_wkb_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(wkb.encode_points(x.to_numpy(), y.to_numpy()))


def crowns_with_geometry(crowns: DataFrame) -> DataFrame:
    """Attach polygon WKB + true polygon bounds to the synth crown table.

    One combined UDF evaluation per row (WKB + bounds together), then field
    projection — Catalyst caches the struct per row instead of re-running the
    polygon build for every derived column.
    """
    # spread the polygon-build UDF across all cores: the upstream aggregate is
    # bytes-tiny so AQE coalesces it, but the per-row Python cost is not tiny
    spark = crowns.sparkSession
    crowns = crowns.repartition(spark.sparkContext.defaultParallelism)
    out = crowns.withColumn(
        "__g",
        crown_geo_udf(F.col("crown_key"), F.col("cx"), F.col("cy"), F.col("radius")),
    )
    return (
        out.withColumn("geometry_wkb", F.col("__g.wkb"))
        .withColumn("gxmin", F.col("__g.xmin"))
        .withColumn("gymin", F.col("__g.ymin"))
        .withColumn("gxmax", F.col("__g.xmax"))
        .withColumn("gymax", F.col("__g.ymax"))
        .withColumn("garea", F.col("__g.area"))
        .drop("__g")
    )


def stems_to_docs(stems: DataFrame) -> DataFrame:
    """One doc per stem: meta + attr(CSV) + geom(point WKB hex) spans."""
    attr_csv = F.concat_ws(
        ",",
        F.col("stem_tag"),
        F.col("dbh").cast("string"),
        F.col("year").cast("string"),
        F.col("status"),
        F.col("crown_position").cast("string"),
        F.coalesce(F.col("fad"), F.lit("")),
    )
    geom_hex = F.lower(F.hex(point_wkb_udf(F.col("x"), F.col("y"))))
    return stems.select(
        F.concat(F.lit("stem-"), F.col("stem_tag")).alias("doc_id"),
        F.array(
            _span(F.lit("meta"), F.concat(F.lit("table=stems;site="), F.col("site_id")), "", 0),
            _span(F.lit("attr"), attr_csv, "", 1),
            _span(F.lit("geom"), "", geom_hex, 2),
        ).alias("spans"),
    )


def crowns_to_docs(crowns_geo: DataFrame) -> DataFrame:
    """One doc per crown: meta + attr + geom(polygon WKB hex) spans."""
    attr_csv = F.concat_ws(
        ",",
        F.col("crown_id"),
        F.col("score").cast("string"),
        F.coalesce(F.col("stem_tag"), F.lit("")),
        F.col("selected").cast("string"),
    )
    geom_hex = F.lower(F.hex(F.col("geometry_wkb")))
    return crowns_geo.select(
        F.concat(F.lit("crown-"), F.col("crown_id")).alias("doc_id"),
        F.array(
            _span(F.lit("meta"), F.lit("table=crowns;site=ALL"), "", 0),
            _span(F.lit("attr"), attr_csv, "", 1),
            _span(F.lit("geom"), "", geom_hex, 2),
        ).alias("spans"),
    )


def tiles_to_docs(tiles: DataFrame, bands: int = 12, h: int = 100, w: int = 100) -> DataFrame:
    """One doc per raster tile: meta + attr(bounds CSV) + raster(media_ref)."""
    attr_csv = F.concat_ws(
        ",",
        F.col("tile_id"),
        F.col("txmin").cast("string"),
        F.col("tymin").cast("string"),
        F.col("txmax").cast("string"),
        F.col("tymax").cast("string"),
    )
    return tiles.select(
        F.concat(F.lit("tile-"), F.col("tile_id")).alias("doc_id"),
        F.array(
            _span(F.lit("meta"), F.lit("table=tiles;site=ALL"), "", 0),
            _span(F.lit("attr"), attr_csv, "", 1),
            _span(
                F.lit("raster"),
                F.lit(f"bands={bands};h={h};w={w};dtype=float32"),
                F.concat(F.lit("hsi://tile/"), F.col("tile_id")),
                2,
            ),
        ).alias("spans"),
    )


def lidar_to_docs(tiles: DataFrame, n_points: int = 1000) -> DataFrame:
    """One doc per LiDAR tile: meta + attr(bounds CSV) + lidar(laz:// ref)
    span — the S6 media_ref twin of tiles_to_docs (reference keeps per-tile
    point-cloud paths in its labels CSV, store_data_structures.py:174-183)."""
    attr_csv = F.concat_ws(
        ",",
        F.col("tile_id"),
        F.col("txmin").cast("string"),
        F.col("tymin").cast("string"),
        F.col("txmax").cast("string"),
        F.col("tymax").cast("string"),
    )
    return tiles.select(
        F.concat(F.lit("laz-"), F.col("tile_id")).alias("doc_id"),
        F.array(
            _span(F.lit("meta"), F.lit("table=lidar;site=ALL"), "", 0),
            _span(F.lit("attr"), attr_csv, "", 1),
            _span(
                F.lit("lidar"),
                F.lit(f"n={n_points};fmt=xyz"),
                F.concat(F.lit("laz://tile/"), F.col("tile_key").cast("string")),
                2,
            ),
        ).alias("spans"),
    )
