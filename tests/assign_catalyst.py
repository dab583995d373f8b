"""Pure-Catalyst twin of the tile-assignment flagship: ZERO Python.

The mandated execution surface stays the Arrow pandas UDF
(operators/assign.py — BASELINE.json:15 requires the vectorized-UDF
form). This test-support module is the alternative physical strategy
that lost its measurement: the whole PIP + kNN + S2 pipeline expressed
as Catalyst column expressions (whole-stage codegen, JVM-side), kept as
an independent reference and verified bit-equal to the UDF path in
tests/test_assign_catalyst.py.

MEASURED OUTCOME (recorded so the design choice is evidence, not
taste): at 4M rows / local[32] this zero-Python path ran ~20x SLOWER
than the Arrow-UDF kernel (26.3 s vs 1.3 s) — the ~5k-node expression
tree (49 kNN candidates x closed-form corner arithmetic + the 16-level
S2 fold) exceeds JVM codegen method budgets and falls back to
interpreted per-row evaluation, and Catalyst's subexpression
elimination cannot share work across candidates the way the NumPy
kernel shares it across the whole Arrow batch. The module therefore
serves as (a) a bit-exact correctness cross-check of the UDF kernel
from an entirely independent execution engine, and (b) the measured
justification for the engine's kernel-in-NumPy architecture. The
expression shape itself:

- PIP: the point's own grid cell is the only possible container
  (inward-jittered disjoint tiles), so one liveness lookup + 4
  half-plane tests whose corner coordinates are the closed-form jitter
  arithmetic of tables/tilegrid.py;
- kNN: the 7x7 neighborhood's candidate (dist2, tile_id) structs in a
  single array, `array_min` giving exactly the oracle's
  ORDER BY dist2, tile_id tie-break;
- S2: the 16-level Hilbert fold as chained projections (one layer per
  level — aliases are referenced more than once, so CollapseProject
  keeps the layers and the tree stays linear, not exponential).

Float caveat: S2 via JVM Math.sin/cos can differ from numpy's SIMD trig
by 1-2 ulp; the st discretization margin is ~1e11x larger, so ids agree
in practice (asserted over the full test corpus), but S2 equality is
probabilistic-by-construction while PIP/kNN equality is exact (integer
and literal-ordered double arithmetic only).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hand_index_spark.geo import s2lite
from hand_index_spark.tables import tilegrid as tg

_INF = float("inf")


# ------------------------------------------------------------ tile grid


def _jit(r: Column, c: Column, s: int) -> Column:
    """Column twin of tilegrid._jit — same integer/double op order."""
    return (
        (r * F.lit(73856093) + c * F.lit(19349663) + F.lit(s * 83492791))
        % F.lit(1000)
    ) / F.lit(1000.0) * F.lit(tg.JITTER)


def _corners(r: Column, c: Column) -> dict[str, Column]:
    lon0 = F.lit(tg.LON_MIN) + c * F.lit(tg.W)
    lat0 = F.lit(tg.LAT_MIN) + r * F.lit(tg.H)
    return {
        "x_sw": lon0 + _jit(r, c, 0) * F.lit(tg.W),
        "y_sw": lat0 + _jit(r, c, 1) * F.lit(tg.H),
        "x_se": lon0 + F.lit(tg.W) - _jit(r, c, 2) * F.lit(tg.W),
        "y_se": lat0 + _jit(r, c, 3) * F.lit(tg.H),
        "x_ne": lon0 + F.lit(tg.W) - _jit(r, c, 4) * F.lit(tg.W),
        "y_ne": lat0 + F.lit(tg.H) - _jit(r, c, 5) * F.lit(tg.H),
        "x_nw": lon0 + _jit(r, c, 6) * F.lit(tg.W),
        "y_nw": lat0 + F.lit(tg.H) - _jit(r, c, 7) * F.lit(tg.H),
    }


def _alive(r: Column, c: Column) -> Column:
    return (r * F.lit(31) + c * F.lit(17)) % F.lit(tg.GAP_MOD) != F.lit(0)


def _centroid(q: dict[str, Column]) -> tuple[Column, Column]:
    cx = (q["x_sw"] + q["x_se"] + q["x_ne"] + q["x_nw"]) * F.lit(0.25)
    cy = (q["y_sw"] + q["y_se"] + q["y_ne"] + q["y_nw"]) * F.lit(0.25)
    return cx, cy


def _pip_inside(lat: Column, lon: Column, q: dict[str, Column]) -> Column:
    edges = [
        ("x_sw", "y_sw", "x_se", "y_se"),
        ("x_se", "y_se", "x_ne", "y_ne"),
        ("x_ne", "y_ne", "x_nw", "y_nw"),
        ("x_nw", "y_nw", "x_sw", "y_sw"),
    ]
    cond = None
    for x1, y1, x2, y2 in edges:
        c = (q[x2] - q[x1]) * (lat - q[y1]) - (q[y2] - q[y1]) * (lon - q[x1]) >= F.lit(
            0.0
        )
        cond = c if cond is None else cond & c
    return cond


def assign_tiles_catalyst(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    with_s2: bool = False,
) -> DataFrame:
    """Append (tile_id, method, dist2 [, s2_cell]) with zero Python."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    r0 = F.least(
        F.greatest(((lat - F.lit(tg.LAT_MIN)) / F.lit(tg.H)).cast("long"), F.lit(0)),
        F.lit(tg.NR - 1),
    )
    c0 = F.least(
        F.greatest(((lon - F.lit(tg.LON_MIN)) / F.lit(tg.W)).cast("long"), F.lit(0)),
        F.lit(tg.NC - 1),
    )
    df = df.withColumn("__r0", r0).withColumn("__c0", c0)
    r0, c0 = F.col("__r0"), F.col("__c0")

    own = _corners(r0, c0)
    pip_hit = _alive(r0, c0) & _pip_inside(lat, lon, own)
    df = df.withColumn("__pip", pip_hit)

    # kNN over the 7x7 neighborhood: array_min of (dist2, tile_id)
    # structs == ORDER BY dist2, tile_id (struct ordering is
    # lexicographic); clipped duplicates at the borders are harmless
    ring = range(-3, 4)
    cands = []
    for dr in ring:
        for dc in ring:
            rr = F.least(F.greatest(r0 + F.lit(dr), F.lit(0)), F.lit(tg.NR - 1))
            cc = F.least(F.greatest(c0 + F.lit(dc), F.lit(0)), F.lit(tg.NC - 1))
            q = _corners(rr, cc)
            cx, cy = _centroid(q)
            dx, dy = lon - cx, lat - cy
            d2 = dx * dx + dy * dy
            tid = rr * F.lit(tg.NC) + cc
            cands.append(
                F.when(_alive(rr, cc), F.struct(d2.alias("d2"), tid.alias("tid")))
                .otherwise(
                    F.struct(
                        F.lit(_INF).alias("d2"), F.lit(1 << 60).cast("long").alias("tid")
                    )
                )
            )
    best = F.array_min(F.array(*cands))
    df = df.withColumn("__knn", best)

    out = (
        df.withColumn(
            "tile_id",
            F.when(F.col("__pip"), r0 * F.lit(tg.NC) + c0).otherwise(
                F.col("__knn.tid")
            ),
        )
        .withColumn(
            "method", F.when(F.col("__pip"), F.lit("pip")).otherwise(F.lit("knn"))
        )
        .withColumn(
            "dist2",
            F.when(F.col("__pip"), F.lit(-1.0)).otherwise(F.col("__knn.d2")),
        )
        .drop("__r0", "__c0", "__pip", "__knn")
    )
    if with_s2:
        out = with_s2_catalyst(out, lat_col, lon_col)
    return out


# ------------------------------------------------------------------- s2


def with_s2_catalyst(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int = 16,
    out_col: str = "s2_cell",
) -> DataFrame:
    """S2 cell ids as chained Catalyst projections (the geo/s2lite
    pipeline; one projection layer per Hilbert level so the recurrence
    stays linear — the Column-tree analogue of the nested-subquery
    oracle SQL)."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    phi = lat * F.lit(np.pi) / F.lit(180.0)
    lam = lon * F.lit(np.pi) / F.lit(180.0)
    df = (
        df.withColumn("__gx", F.cos(phi) * F.cos(lam))
        .withColumn("__gy", F.cos(phi) * F.sin(lam))
        .withColumn("__gz", F.sin(phi))
    )
    gx, gy, gz = F.col("__gx"), F.col("__gy"), F.col("__gz")
    face0 = F.when(
        F.abs(gx) >= F.abs(gy),
        F.when(F.abs(gx) >= F.abs(gz), F.lit(0)).otherwise(F.lit(2)),
    ).otherwise(F.when(F.abs(gy) >= F.abs(gz), F.lit(1)).otherwise(F.lit(2)))
    df = df.withColumn("__f0", face0)
    major = (
        F.when(F.col("__f0") == 0, gx)
        .when(F.col("__f0") == 1, gy)
        .otherwise(gz)
    )
    df = df.withColumn(
        "__face",
        F.when(major < 0, F.col("__f0") + F.lit(3)).otherwise(F.col("__f0")).cast("long"),
    )
    face = F.col("__face")
    uu = (
        F.when(face == 0, gy / gx)
        .when(face == 1, -gx / gy)
        .when(face == 2, -gx / gz)
        .when(face == 3, gz / gx)
        .when(face == 4, gz / gy)
        .otherwise(-gy / gz)
    )
    vv = (
        F.when(face == 0, gz / gx)
        .when(face == 1, gz / gy)
        .when(face == 2, -gy / gz)
        .when(face == 3, gy / gx)
        .when(face == 4, -gx / gy)
        .otherwise(-gx / gz)
    )

    def st(u: Column) -> Column:
        return F.when(
            u >= 0.0, F.lit(0.5) * F.sqrt(F.greatest(F.lit(1.0) + F.lit(3.0) * u, F.lit(0.0)))
        ).otherwise(
            F.lit(1.0) - F.lit(0.5) * F.sqrt(F.greatest(F.lit(1.0) - F.lit(3.0) * u, F.lit(0.0)))
        )

    def ij(s: Column) -> Column:
        return F.least(
            F.greatest(F.floor(s * F.lit(float(1 << 30))).cast("long"), F.lit(0).cast("long")),
            F.lit((1 << 30) - 1).cast("long"),
        )

    df = df.withColumn("__hi", ij(st(uu))).withColumn("__hj", ij(st(vv)))
    df = df.withColumn("__o", (face % 2).cast("int")).withColumn(
        "__pos", F.lit(0).cast("long")
    )
    # one projection per level: __p is referenced twice below, which
    # stops CollapseProject from inlining the recurrence exponentially
    for t in range(level):
        k = 30 - 1 - t
        ijx = (
            F.shiftright(F.col("__hi"), k).bitwiseAND(F.lit(1)) * F.lit(2)
            + F.shiftright(F.col("__hj"), k).bitwiseAND(F.lit(1))
        ).cast("int")
        key = F.col("__o") * F.lit(4) + ijx
        p = None
        for o in range(4):
            for v in range(4):
                val = int(s2lite._IJ_TO_POS[o, v])
                p = (
                    F.when(key == o * 4 + v, F.lit(val))
                    if p is None
                    else p.when(key == o * 4 + v, F.lit(val))
                )
        df = df.withColumn("__p", p.cast("long"))
        df = df.withColumn(
            "__pos", F.col("__pos") * F.lit(4) + F.col("__p")
        ).withColumn(
            "__o",
            F.when(F.col("__p") == 0, F.col("__o").bitwiseXOR(F.lit(1)))
            .when(F.col("__p") == 3, F.col("__o").bitwiseXOR(F.lit(3)))
            .otherwise(F.col("__o")),
        )
    shift = 2 * (30 - level) + 1
    cell = (
        F.shiftleft(face, 61)
        .bitwiseOR(F.shiftleft(F.col("__pos"), shift))
        .bitwiseOR(F.lit(1 << (shift - 1)).cast("long"))
    )
    return df.withColumn(out_col, cell).drop(
        "__gx", "__gy", "__gz", "__f0", "__face", "__hi", "__hj", "__o", "__pos", "__p"
    )
