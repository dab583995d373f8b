"""Raster-footprint -> vector ingestion (north rule, BASELINE.json:6).

The reference registers raster assets by *path join only* (load.py:
223-253); the north rule upgrades this to spatial registration: each
raster's affine transform + size define its footprint polygon (the
"rasterio bounds -> polygon" step — pure corner math, no rasterio
needed), which then gets the same bbox/cell treatment as any geometry,
producing the VRT/tile manifest table.

GDAL affine convention: x = a*col + b*row + c; y = d*col + e*row + f,
transform = [a, b, c, d, e, f]. All math is vectorized column
expressions — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import cells as h3lite


def footprints(df: DataFrame) -> DataFrame:
    """raster_footprints(raster_path, width, height, transform, crs)
    -> + corner coords (x0,y0 .. x3,y3), bbox struct (storage CRS).

    Corners are (0,0), (width,0), (width,height), (0,height) in pixel
    space pushed through the affine.
    """
    a = F.col("transform")[0]
    b = F.col("transform")[1]
    c = F.col("transform")[2]
    d = F.col("transform")[3]
    e = F.col("transform")[4]
    f6 = F.col("transform")[5]
    w = F.col("width").cast("double")
    h = F.col("height").cast("double")

    def px(col, row):
        return a * col + b * row + c

    def py(col, row):
        return d * col + e * row + f6

    zero = F.lit(0.0)
    df = (
        df.withColumn("x0", px(zero, zero))
        .withColumn("y0", py(zero, zero))
        .withColumn("x1", px(w, zero))
        .withColumn("y1", py(w, zero))
        .withColumn("x2", px(w, h))
        .withColumn("y2", py(w, h))
        .withColumn("x3", px(zero, h))
        .withColumn("y3", py(zero, h))
    )
    xmin = F.least("x0", "x1", "x2", "x3")
    xmax = F.greatest("x0", "x1", "x2", "x3")
    ymin = F.least("y0", "y1", "y2", "y3")
    ymax = F.greatest("y0", "y1", "y2", "y3")
    return df.withColumn(
        "bbox",
        F.struct(
            xmin.alias("xmin"), ymin.alias("ymin"), xmax.alias("xmax"), ymax.alias("ymax")
        ),
    )


def tile_manifest(df: DataFrame, to_lonlat=None) -> DataFrame:
    """Footprints -> VRT/tile manifest: tile_id, bbox, paths, cell ids.

    ``to_lonlat(x_col, y_col) -> (lon_col, lat_col)`` converts storage-CRS
    centers for cell keying; identity when footprints are already 4326.
    Grouping key: rasters sharing a bbox collapse into one tile whose
    ``paths`` array lists every member (the VRT-builder semantics).
    """
    fp = footprints(df)
    cx = (F.col("bbox.xmin") + F.col("bbox.xmax")) * F.lit(0.5)
    cy = (F.col("bbox.ymin") + F.col("bbox.ymax")) * F.lit(0.5)
    if to_lonlat is not None:
        lon, lat = to_lonlat(cx, cy)
    else:
        lon, lat = cx, cy
    fp = fp.withColumn("lon", lon).withColumn("lat", lat)
    fp = fp.withColumns(
        {f"h3_r{res}": h3lite.encode_col("lat", "lon", res) for res in (5, 6, 7, 8, 9)}
    )
    return (
        fp.withColumn("tile_id", F.sha2(F.concat_ws(",", "x0", "y0", "x2", "y2"), 256))
        .groupBy(
            "tile_id", "bbox", "h3_r5", "h3_r6", "h3_r7", "h3_r8", "h3_r9"
        )
        .agg(F.sort_array(F.collect_list("raster_path")).alias("paths"))
    )


def rasterize(
    polys: DataFrame,
    cell: float = 1.0,
    ox: float = 0.0,
    oy: float = 0.0,
    mode: str = "raycast",
) -> DataFrame:
    """Vector -> raster burn (gdal_rasterize's ALL_TOUCHED=FALSE rule,
    the inverse of :func:`footprints`): for each polygon
    (poly_id, coords_flat closed ring) emit every grid cell
    (col, row) whose CENTER lies inside. Pure Catalyst: per-poly bbox
    -> candidate col/row ranges (sequence x sequence explode, the
    covering-cell idiom from operators/spatial_join.py) -> HOF
    point-in-polygon on the cell center. No Python, no broadcast; at
    scale the explode is bounded by polygon area / cell^2 and
    AQE-splittable like any flatMap.

    ``mode='convex'`` uses the boundary-inclusive half-plane test
    (exact for CCW convex rings with dyadic coordinates);
    ``'raycast'`` handles general simple polygons (even-odd)."""
    from .spatial_join import _inside_convex, _inside_raycast

    xs = F.filter(
        F.col("coords_flat"), lambda v, i: i % F.lit(2) == F.lit(0)
    )
    ys = F.filter(
        F.col("coords_flat"), lambda v, i: i % F.lit(2) == F.lit(1)
    )
    c_lo = (F.floor((F.array_min(xs) - F.lit(ox)) / F.lit(cell))).cast("long") - 1
    c_hi = (F.floor((F.array_max(xs) - F.lit(ox)) / F.lit(cell))).cast("long") + 1
    r_lo = (F.floor((F.array_min(ys) - F.lit(oy)) / F.lit(cell))).cast("long") - 1
    r_hi = (F.floor((F.array_max(ys) - F.lit(oy)) / F.lit(cell))).cast("long") + 1
    g = (
        polys.withColumn("col", F.explode(F.sequence(c_lo, c_hi)))
        .withColumn("row", F.explode(F.sequence(r_lo, r_hi)))
    )
    px = F.lit(ox) + (F.col("col").cast("double") + F.lit(0.5)) * F.lit(cell)
    py = F.lit(oy) + (F.col("row").cast("double") + F.lit(0.5)) * F.lit(cell)
    inside = (
        _inside_convex(px, py, F.col("coords_flat"))
        if mode == "convex"
        else _inside_raycast(px, py, F.col("coords_flat"))
    )
    return g.filter(inside).select("poly_id", "col", "row")
