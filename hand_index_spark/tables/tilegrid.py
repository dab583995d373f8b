"""Deterministic arithmetic tile grid — the spatial dimension table.

Plays the role of the reference's Catchments polygon set (a few thousand
polygons vs 10^12 points). Every coordinate is a *pure closed-form
arithmetic function* of (row, col), reproducible bit-for-bit in three
places:

  1. NumPy (driver builds the broadcastable PackedPolygonIndex),
  2. DuckDB SQL (:func:`tiles_sql` — lets the driver's oracle verify the
     engine's tile assignments EXACTLY, not just rows-only),
  3. any future engine.

Grid: NR x NC tiles over a CONUS-like extent [-125,-66] x [24,50]
(FIXTURES.md §2). Each tile is a *convex quadrilateral*: the tile
rectangle's corners pulled inward by hash-derived jitter (<= 30% of the
tile size), so tiles are disjoint with real gaps between them — the gaps
exercise the kNN-to-nearest-tile fallback (BASELINE.json:6). Some tiles
are dropped entirely ("lakes") for bigger kNN regions.

IEEE determinism contract: all expressions below use the same
left-associative operation order as the SQL emitted by
:func:`tiles_sql`, so doubles are bit-identical across engines.
"""

from __future__ import annotations

import numpy as np

LON_MIN, LON_MAX = -125.0, -66.0
LAT_MIN, LAT_MAX = 24.0, 50.0
NR, NC = 13, 24
W = (LON_MAX - LON_MIN) / NC  # tile width (deg)
H = (LAT_MAX - LAT_MIN) / NR  # tile height (deg)
JITTER = 0.12
GAP_MOD = 13  # drop tiles where (r*31 + c*17) % GAP_MOD == 0
# (13 is coprime with the 31/17 multipliers -> gaps scatter across rows;
# e.g. 17 would degenerate to killing whole rows since 17 % 17 == 0)


def _jit(r: int, c: int, s: int) -> float:
    """Hash-derived jitter fraction in [0, 0.3): exact bigint arithmetic."""
    return ((r * 73856093 + c * 19349663 + s * 83492791) % 1000) / 1000.0 * JITTER


def tile_corners(r: int, c: int) -> np.ndarray:
    """CCW convex quad corners (SW, SE, NE, NW) for tile (r, c)."""
    lon0 = LON_MIN + c * W
    lat0 = LAT_MIN + r * H
    x_sw = lon0 + _jit(r, c, 0) * W
    y_sw = lat0 + _jit(r, c, 1) * H
    x_se = lon0 + W - _jit(r, c, 2) * W
    y_se = lat0 + _jit(r, c, 3) * H
    x_ne = lon0 + W - _jit(r, c, 4) * W
    y_ne = lat0 + H - _jit(r, c, 5) * H
    x_nw = lon0 + _jit(r, c, 6) * W
    y_nw = lat0 + H - _jit(r, c, 7) * H
    return np.array(
        [[x_sw, y_sw], [x_se, y_se], [x_ne, y_ne], [x_nw, y_nw]], dtype=np.float64
    )


def tile_ids_and_rings() -> tuple[list[int], list[np.ndarray]]:
    """All live tiles: (tile_id = r*NC + c, quad ring)."""
    ids: list[int] = []
    rings: list[np.ndarray] = []
    for r in range(NR):
        for c in range(NC):
            if (r * 31 + c * 17) % GAP_MOD == 0:
                continue
            ids.append(r * NC + c)
            rings.append(tile_corners(r, c))
    return ids, rings


def tiles_sql() -> str:
    """DuckDB CTE body generating the identical tile table.

    Columns: tile_id, x_sw..y_nw (8 corner coords), cx, cy.
    """
    jit = (
        "((({r} * 73856093 + {c} * 19349663 + {s} * 83492791) % 1000)"
        f" / 1000.0 * {JITTER!r})"
    )

    def j(s: int) -> str:
        return jit.format(r="r", c="c", s=s)

    w = f"(({LON_MAX!r} - {LON_MIN!r}) / {NC})"
    h = f"(({LAT_MAX!r} - {LAT_MIN!r}) / {NR})"
    lon0 = f"({LON_MIN!r} + c * {w})"
    lat0 = f"({LAT_MIN!r} + r * {h})"
    return f"""
    SELECT
        r * {NC} + c AS tile_id,
        {lon0} + {j(0)} * {w} AS x_sw,
        {lat0} + {j(1)} * {h} AS y_sw,
        {lon0} + {w} - {j(2)} * {w} AS x_se,
        {lat0} + {j(3)} * {h} AS y_se,
        {lon0} + {w} - {j(4)} * {w} AS x_ne,
        {lat0} + {h} - {j(5)} * {h} AS y_ne,
        {lon0} + {j(6)} * {w} AS x_nw,
        {lat0} + {h} - {j(7)} * {h} AS y_nw,
        (({lon0} + {j(0)} * {w}) + ({lon0} + {w} - {j(2)} * {w}) + ({lon0} + {w} - {j(4)} * {w}) + ({lon0} + {j(6)} * {w})) * 0.25 AS cx,
        (({lat0} + {j(1)} * {h}) + ({lat0} + {j(3)} * {h}) + ({lat0} + {h} - {j(5)} * {h}) + ({lat0} + {h} - {j(7)} * {h})) * 0.25 AS cy
    FROM range(0, {NR}) AS tr(r), range(0, {NC}) AS tc(c)
    WHERE (r * 31 + c * 17) % {GAP_MOD} != 0
    """


# ----------------------------------------------------------- point rules
# Geotag derivation for the driver's `documents` table: a pure function
# of doc_id (no external data), reproduced in SQL by points_sql().

LAT_MUL, LAT_RANGE = 2654435761, 2600000  # -> [24, 50)
LON_MUL, LON_RANGE = 2246822519, 5900000  # -> [-125, -66)


def doc_lat_expr_sql(doc_id: str = "doc_id") -> str:
    return f"(24.0 + (({doc_id} * {LAT_MUL}) % {LAT_RANGE}) / 100000.0)"


def doc_lon_expr_sql(doc_id: str = "doc_id") -> str:
    return f"(-125.0 + (({doc_id} * {LON_MUL}) % {LON_RANGE}) / 100000.0)"


def doc_latlon_numpy(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    d = np.asarray(doc_id, dtype=np.int64)
    lat = 24.0 + (d * np.int64(LAT_MUL) % np.int64(LAT_RANGE)) / 100000.0
    lon = -125.0 + (d * np.int64(LON_MUL) % np.int64(LON_RANGE)) / 100000.0
    return lat, lon
