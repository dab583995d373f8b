"""Seeded input generators for the workloads.

Everything here is a pure function of ``(seed, sizes)``: the same seed
gives byte-identical inputs, so committed snapshot checksums repeat.
Each generator draws from its own ``numpy.random.Generator`` stream
(``default_rng([seed, STREAM])``) so adding a generator never shifts
another one's draws.

The generators also return the facts the output checks need (expected
areas, asset counts, quad corners): the checks never ask the program
under test what the right answer is.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from hand_index_spark.geo import albers, wkb

CONUS = (-125.0, 25.0, -65.0, 50.0)  # lon0, lat0, lon1, lat1

_STREAM_TREE, _STREAM_DECK, _STREAM_PAGES = 1, 3, 4

# Catchments per square degree of the 600k-catchment CONUS index that
# tables.datagen.synth_catchments spreads over 60 x 25 degrees.
CATCHMENTS_PER_DEG2 = 600_000 / (60.0 * 25.0)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _jittered_quads(lon_c, lat_c, half, rng, jitter=0.3):
    """(n, 4, 2) CCW lon/lat quads (SW, SE, NE, NW): the box of
    half-extent ``half`` around each centre with every corner pulled
    inward by up to ``jitter`` of the half-extent. Corners stay in their
    own quadrant, so every quad is convex."""
    n = len(lon_c)
    j = rng.uniform(0.0, jitter, size=(n, 4, 2)) * half[:, None, None]
    sx = np.array([-1.0, 1.0, 1.0, -1.0])
    sy = np.array([-1.0, -1.0, 1.0, 1.0])
    lon = lon_c[:, None] + sx * (half[:, None] - j[:, :, 0])
    lat = lat_c[:, None] + sy * (half[:, None] - j[:, :, 1])
    return np.stack([lon, lat], axis=2)


def _to_5070(quads_ll: np.ndarray) -> np.ndarray:
    x, y = albers.forward(quads_ll[..., 0].ravel(), quads_ll[..., 1].ravel())
    return np.stack([x, y], axis=1).reshape(quads_ll.shape)


def quad_areas(quads: np.ndarray) -> np.ndarray:
    """Shoelace areas of (n, 4, 2) rings (positive for CCW)."""
    x, y = quads[..., 0], quads[..., 1]
    return 0.5 * np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1)


def _fan_split(quad: np.ndarray, k: int) -> list[np.ndarray]:
    """Split a convex quad into k in {2, 3, 4} triangles fanned from
    corner 0; shared edges reuse identical vertices (edge-matched)."""
    p0, p1, p2, p3 = quad
    if k == 2:
        return [np.array([p0, p1, p2]), np.array([p0, p2, p3])]
    m12 = (p1 + p2) * 0.5
    if k == 3:
        return [np.array([p0, p1, m12]), np.array([p0, m12, p2]), np.array([p0, p2, p3])]
    m23 = (p2 + p3) * 0.5
    return [
        np.array([p0, p1, m12]),
        np.array([p0, m12, p2]),
        np.array([p0, p2, m23]),
        np.array([p0, m23, p3]),
    ]


# ---------------------------------------------------------------- build


@dataclass
class HandTree:
    """A synthetic HAND output tree: raw sub-polygon rows, the asset
    manifest, and what a correct build must produce from them."""

    tiles_raw: list[tuple]  # (geom WKB, branch_path, src_file)
    manifest: list[tuple]  # (file,)
    region: tuple[float, float, float, float]  # lon0, lat0, lon1, lat1
    lakes: np.ndarray  # (m, 3) lon, lat, radius (deg): no catchments inside
    # one entry per live branch, in generator order
    branch_paths: list[str]
    ids: list[str]  # sha256(branch_path), the catchment_id a build must give
    quads: np.ndarray  # (n, 4, 2) CCW rings in EPSG:5070: the dissolved shapes
    centers: np.ndarray  # (n, 2) lon/lat of each catchment's grid cell
    pieces: np.ndarray  # sub-polygons per branch (2-4)
    n_csv: np.ndarray  # hydrotables per branch (1-3)
    assets: dict[str, list[tuple[int, str]]]  # satellite table -> (branch, file)

    @property
    def asset_rows(self) -> dict[str, int]:
        return {name: len(rows) for name, rows in self.assets.items()}


def hand_tree(
    seed: int, n_branches: int, cell_deg=0.03, n_lakes: int = 3
) -> HandTree:
    """``n_branches`` live branches on a jittered grid inside one seeded
    8:5 region sized for ``CATCHMENTS_PER_DEG2`` (1000 branches: 2 x 1.25
    degrees, 4-9 res-0 partition cells),
    avoiding ``n_lakes`` seeded lakes. Each catchment quad is fan-split
    2-4 ways, in EPSG:5070. The tree also holds the noise the index
    build must drop:

    - a ``_v2`` duplicate file per branch with a shifted quad, which the
      first-file dedup must discard;
    - a ``_pixels_`` file per branch, and 2% dead branches whose only
      file is a ``_pixels_`` one;
    - a stray non-``/branches/`` row per 10 branches.

    The manifest has 1-3 hydrotables per branch, and REM / catchment
    rasters with seeded gaps (about 1 in 7 and 1 in 11 missing).
    """
    rng = _rng(seed, _STREAM_TREE)
    w = float(np.sqrt(1.6 * n_branches / CATCHMENTS_PER_DEG2))
    h = w / 1.6
    lon0 = rng.uniform(CONUS[0] + 1.0, CONUS[2] - w - 1.0)
    lat0 = rng.uniform(CONUS[1] + 1.0, CONUS[3] - h - 1.0)
    lakes = np.column_stack(
        [
            rng.uniform(lon0 + 0.2 * w, lon0 + 0.8 * w, n_lakes),
            rng.uniform(lat0 + 0.2 * h, lat0 + 0.8 * h, n_lakes),
            rng.uniform(0.04, 0.075, n_lakes) * w,
        ]
    )
    ncol, nrow = int(w / cell_deg), int(h / cell_deg)
    grid = np.arange(ncol * nrow)
    gx = lon0 + (grid % ncol + 0.5) * cell_deg
    gy = lat0 + (grid // ncol + 0.5) * cell_deg
    dry = np.ones(len(grid), dtype=bool)
    for lx, ly, lr in lakes:
        dry &= (gx - lx) ** 2 + (gy - ly) ** 2 >= (lr + cell_deg) ** 2
    n_dead = max(1, n_branches // 50)
    slots = rng.choice(grid[dry], size=n_branches + n_dead, replace=False)
    half = np.full(len(slots), cell_deg * 0.4)
    quads = _to_5070(_jittered_quads(gx[slots], gy[slots], half, rng))
    k = rng.integers(2, 5, size=len(slots))
    huc = rng.integers(10_000_000, 99_999_999)
    n_csv = rng.integers(1, 4, size=len(slots))
    has_rem = rng.random(len(slots)) >= 1.0 / 7.0
    has_cat = rng.random(len(slots)) >= 1.0 / 11.0
    paths = [f"s3://hand/{huc}/branches/{s}/" for s in slots]

    tiles_raw: list[tuple] = []
    assets: dict[str, list[tuple[int, str]]] = {"hydrotables": [], "rem_rasters": [], "catchment_rasters": []}
    for i, bp in enumerate(paths):
        quad = quads[i]
        if i >= n_branches:  # dead branch: pixel rasters only
            tiles_raw.append((wkb.polygon_to_wkb([quad]), bp, f"{bp}gw_catchments_pixels_{i}.gpkg"))
            continue
        for tri in _fan_split(quad, int(k[i])):
            tiles_raw.append((wkb.polygon_to_wkb([tri]), bp, f"{bp}gw_catchments.gpkg"))
        shifted = quad + np.array([150.0, -90.0])
        tiles_raw.append((wkb.polygon_to_wkb([shifted]), bp, f"{bp}gw_catchments_v2.gpkg"))
        tiles_raw.append((wkb.polygon_to_wkb([quad]), bp, f"{bp}gw_catchments_pixels_{i}.gpkg"))
        if i % 10 == 0:
            stray = f"s3://hand/{huc}/other/{slots[i]}/"
            tiles_raw.append((wkb.polygon_to_wkb([quad]), stray, f"{stray}stray.gpkg"))
        for c in range(int(n_csv[i])):
            assets["hydrotables"].append((i, f"{bp}hydroTable_{c}.csv"))
        if has_rem[i]:
            assets["rem_rasters"].append((i, f"{bp}rem_zeroed_masked_{slots[i]}.tif"))
        if has_cat[i]:
            assets["catchment_rasters"].append((i, f"{bp}gw_catchments_reaches_filtered_addedAttributes_{slots[i]}.tif"))
    # stored order must not follow the generator's loop order
    order = rng.permutation(len(tiles_raw))
    live = slice(0, n_branches)
    return HandTree(
        tiles_raw=[tiles_raw[j] for j in order],
        manifest=[(f,) for rows in assets.values() for _, f in rows],
        region=(lon0, lat0, lon0 + w, lat0 + h),
        lakes=lakes,
        branch_paths=paths[live],
        ids=[sha256_hex(bp) for bp in paths[live]],
        quads=quads[live],
        centers=np.column_stack([gx[slots], gy[slots]])[live],
        pieces=k[live],
        n_csv=n_csv[live],
        assets=assets,
    )


# ---------------------------------------------------------------- ROI deck


@dataclass
class Query:
    scale: str  # "county" | "region"
    shape: str  # "rect" | "convex" | "concave-piece"
    ring: np.ndarray  # closed CCW lon/lat ring (convex)
    geojson: dict


def _feature(ring: np.ndarray, name: str) -> dict:
    return {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": name},
                "geometry": {"type": "Polygon", "coordinates": [ring.tolist()]},
            }
        ],
    }


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def _cross(o, a, b) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _is_convex(ring: np.ndarray) -> bool:
    n = len(ring)
    return all(_cross(ring[i], ring[(i + 1) % n], ring[(i + 2) % n]) > 0 for i in range(n))


def fan_split_star(center: np.ndarray, verts: np.ndarray) -> list[np.ndarray]:
    """Split a star-shaped CCW polygon (every vertex visible from
    ``center``) into convex pieces: fan wedges from the centre, each
    grown while it stays convex. The pieces tile the polygon."""
    n = len(verts)
    pieces = []
    i = 0
    while i < n:
        j = i + 1
        while j < n and _is_convex(np.array([center] + [verts[m % n] for m in range(i, j + 2)])):
            j += 1
        pieces.append(np.array([center] + [verts[m % n] for m in range(i, j + 1)]))
        i = j
    return pieces


def _star(rng, cx, cy, radius, nv, concave):
    # evenly spaced jittered angles: every gap stays below pi
    ang = (np.arange(nv) + rng.uniform(0.0, 0.8, nv)) * (2 * np.pi / nv)
    if concave:
        r = radius * np.where(np.arange(nv) % 2 == 0, 1.0, rng.uniform(0.35, 0.6, nv))
        ex = ey = 1.0
    else:
        r = np.full(nv, radius)
        ex, ey = rng.uniform(0.7, 1.0, 2)
    return np.column_stack([cx + ex * r * np.cos(ang), cy + ey * r * np.sin(ang)])


def roi_deck(seed: int, n_queries: int, tree: HandTree) -> list[Query]:
    """``n_queries`` ROI queries, three county-scale (0.2-1 deg across)
    to one region-scale (6-12 deg). Sizes are stratified and laid out in
    bit-reversed order, so any prefix of the deck spans the size range
    evenly. Shapes cycle rectangle, 5-40-vertex convex ring, and a piece
    of a fan-split concave star. A county ROI is centred on a catchment,
    except every eighth, which sits inside a lake where there are no
    catchments; a region ROI is centred in the tree's region."""
    rng = _rng(seed, _STREAM_DECK)
    n_region = max(1, n_queries // 4)
    n_county = n_queries - n_region

    def strata(k, lo, hi):
        bits = max(1, (k - 1).bit_length())
        order = sorted(range(k), key=lambda i: int(f"{i:0{bits}b}"[::-1], 2))
        u = (np.array(order) + rng.uniform(0.0, 1.0, k)) / k
        return lo + u * (hi - lo)

    sizes = {"county": list(strata(n_county, 0.2, 1.0)), "region": list(strata(n_region, 6.0, 12.0))}
    shapes = ("rect", "convex", "concave-piece")
    out: list[Query] = []
    n_made = {"county": 0, "region": 0}

    def make(scale):
        d = sizes[scale][n_made[scale] % len(sizes[scale])]
        shape = shapes[n_made[scale] % 3]
        lakeside = scale == "county" and n_made[scale] % 8 == 7
        n_made[scale] += 1
        if lakeside:
            cx, cy, lr = tree.lakes[rng.integers(len(tree.lakes))]
            d = min(d, lr)
        elif scale == "county":
            cx, cy = tree.centers[rng.integers(len(tree.centers))]
        else:
            lon0, lat0, lon1, lat1 = tree.region
            cx = rng.uniform(lon0, lon1)
            cy = rng.uniform(lat0, lat1)
        r = d / 2
        if shape == "rect":
            a = r * rng.uniform(0.6, 1.0)
            b = r * rng.uniform(0.6, 1.0)
            ring = np.array([[cx - a, cy - b], [cx + a, cy - b], [cx + a, cy + b], [cx - a, cy + b]])
            return shape, ring
        nv = int(rng.integers(5, 41))
        if shape == "convex":
            return shape, _star(rng, cx, cy, r, nv, concave=False)
        star = _star(rng, cx, cy, r, max(nv, 6), concave=True)
        pieces = fan_split_star(np.array([cx, cy]), star)
        # roi_query takes one convex ring: keep the largest piece
        return shape, max(pieces, key=_ring_area)

    while len(out) < n_queries:
        scale = "region" if len(out) % 4 == 3 else "county"
        shape, ring = make(scale)
        if not _is_convex(ring):
            raise ValueError(f"generated a non-convex {shape} ROI")
        closed = np.vstack([ring, ring[:1]])
        out.append(Query(scale, shape, closed, _feature(closed, f"{scale}-{len(out)}")))
    return out


# ------------------------------------------------------------------ pages


def page_base(seed: int, n_pages: int) -> int:
    """First doc_id of the seeded page range. The geotag rule multiplies
    doc_id by ~2.6e9 in 64-bit arithmetic, so ids stay below 3.4e9."""
    return int(_rng(seed, _STREAM_PAGES).integers(0, 3_000_000_000 - n_pages))


def page_sample(seed: int, n_pages: int, k: int) -> np.ndarray:
    base = page_base(seed, n_pages)
    rng = _rng(seed, _STREAM_PAGES + 100)
    return base + np.sort(rng.choice(n_pages, size=min(k, n_pages), replace=False))
