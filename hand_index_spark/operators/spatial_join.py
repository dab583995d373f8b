"""Generic covering-cell spatial join — points x ARBITRARY polygons with
no broadcast and no Python.

`operators/assign.py:assign_tiles_joined` handles the engine's regular
tile grid past the broadcast ceiling; this module removes the
regular-grid assumption: any polygon table (HAND catchments with full
rings, not just quads) joins against any point table through the
h3lite cell lattice, entirely in Catalyst:

1. **dimension side**: each polygon explodes to the lattice cells its
   bbox covers at ``res`` (h3lite's closed-form row/col SQL text
   makes "polyfill" a ``sequence() x sequence()`` double explode —
   pure Catalyst arithmetic, no driver-side cover_bbox call);
2. **equi-join** points (one ``encode_col`` cell each) to the covering
   cells — shuffle_hash on the cell key: both sides hash-partition,
   nothing broadcasts, AQE splits hot cells;
3. **bbox prefilter** on the joined candidates (Catalyst range
   predicates);
4. **exact PIP refine with higher-order functions** over the polygon's
   packed ``coords_flat`` ring: convex mode evaluates every edge's
   half-plane sign with ``forall``/``transform``; general mode counts
   ray crossings with ``aggregate`` — both stay JVM-side (no UDF, no
   Arrow hop), whole-stage-codegen'd per candidate pair.

Resolution picks the fan-out: cells ~ polygon extent => O(1-10)
covering cells per polygon and O(1) candidate polys per point. The
convex-mode arithmetic is literally the kernel/oracle expression
((x2-x1)*(py-y1) - (y2-y1)*(px-x1) >= 0), so results are bit-identical
to the broadcast path on the same data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geo import cells as h3lite


def covering_cells_dim(
    polys: DataFrame,
    res: int,
    xmin: str = "bbox.xmin",
    ymin: str = "bbox.ymin",
    xmax: str = "bbox.xmax",
    ymax: str = "bbox.ymax",
) -> DataFrame:
    """Explode each polygon row to (original columns..., cell) for every
    lattice cell at ``res`` its bbox covers — Catalyst polyfill."""
    r0 = F.expr(h3lite.row_sql(ymin, res))
    r1 = F.expr(h3lite.row_sql(ymax, res))
    c0 = F.expr(h3lite.col_sql(xmin, res))
    c1 = F.expr(h3lite.col_sql(xmax, res))
    return (
        polys.withColumn("__row", F.explode(F.sequence(r0, r1)))
        .withColumn("__col", F.explode(F.sequence(c0, c1)))
        .withColumn("cell", F.expr(h3lite.pack_sql(res, "__row", "__col")))
        .drop("__row", "__col")
    )


def _inside_convex(px: Column, py: Column, ring: Column) -> Column:
    """Half-plane test against every edge of a closed CCW ring packed as
    [x0,y0,x1,y1,...,x0,y0] — the kernel/oracle arithmetic verbatim."""
    n_edges = (F.size(ring) / F.lit(2)).cast("int") - F.lit(1)
    idx = F.sequence(F.lit(0), n_edges - F.lit(1))

    def edge_ok(i: Column) -> Column:
        x1 = F.element_at(ring, i * 2 + 1)
        y1 = F.element_at(ring, i * 2 + 2)
        x2 = F.element_at(ring, i * 2 + 3)
        y2 = F.element_at(ring, i * 2 + 4)
        return (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= F.lit(0.0)

    return F.forall(F.transform(idx, edge_ok), lambda b: b)


def _inside_raycast(px: Column, py: Column, ring: Column) -> Column:
    """Even-odd ray crossing count (general simple polygons, convex or
    not, any winding) via aggregate over the packed ring."""
    n_edges = (F.size(ring) / F.lit(2)).cast("int") - F.lit(1)
    idx = F.sequence(F.lit(0), n_edges - F.lit(1))

    def crossing(i: Column) -> Column:
        x1 = F.element_at(ring, i * 2 + 1)
        y1 = F.element_at(ring, i * 2 + 2)
        x2 = F.element_at(ring, i * 2 + 3)
        y2 = F.element_at(ring, i * 2 + 4)
        straddles = (y1 > py) != (y2 > py)
        xi = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        return F.when(straddles & (px < xi), F.lit(1)).otherwise(F.lit(0))

    hits = F.aggregate(F.transform(idx, crossing), F.lit(0), lambda a, x: a + x)
    return hits % F.lit(2) == F.lit(1)


def spatial_join_points_polys(
    points: DataFrame,
    polys: DataFrame,
    res: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    pip: str = "convex",
    xmin: str = "bbox.xmin",
    ymin: str = "bbox.ymin",
    xmax: str = "bbox.xmax",
    ymax: str = "bbox.ymax",
    coords_col: str = "coords_flat",
) -> DataFrame:
    """Inner spatial join: all (point, polygon) pairs where the point
    lies inside the polygon. Output = point columns + polygon columns
    (minus the internal cell key). ``pip='convex'`` for convex rings
    (bit-identical to the broadcast kernel), ``'raycast'`` for general
    simple polygons."""
    p = points.withColumn("__pcell", h3lite.encode_col(lat_col, lon_col, res)).alias("p")
    d = covering_cells_dim(polys, res, xmin, ymin, xmax, ymax).alias("d")
    j = p.join(d.hint("shuffle_hash"), F.col("p.__pcell") == F.col("d.cell"))
    plat = F.col(f"p.{lat_col}")
    plon = F.col(f"p.{lon_col}")
    coarse = j.filter(
        (plon >= F.expr(f"d.{xmin}"))
        & (plon <= F.expr(f"d.{xmax}"))
        & (plat >= F.expr(f"d.{ymin}"))
        & (plat <= F.expr(f"d.{ymax}"))
    )
    ring = F.col(f"d.{coords_col}")
    inside = (
        _inside_convex(plon, plat, ring)
        if pip == "convex"
        else _inside_raycast(plon, plat, ring)
    )
    keep = [F.col(f"p.{c}") for c in points.columns] + [
        F.col(f"d.{c}") for c in polys.columns
    ]
    return coarse.filter(inside).select(*keep)
