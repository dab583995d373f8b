"""Output checks. Each reference answer is computed here, from the
generator's own facts, without calling the layer being checked.

- ROI: a brute-force Sutherland-Hodgman clip of every catchment quad
  against the convex ROI, padded per polygon (a different formulation
  from the engine's flat vertex-stream clip).
- build: row count, ``catchment_id = sha256(branch_path)``, and each
  dissolved area against the generator's quad.
- assign: the per-(tile, method) histogram by brute force over the
  oracle SQL's coordinates and tiles, plus a seeded page sample
  against the DuckDB oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np

from hand_index_spark.geo import albers

OVERLAP_THRESHOLD_PCT = 10.0
# ids whose overlap ratio lies this close to a cut are exempt
CUT_EPS = 1e-9


# ------------------------------------------------------------------- ROI


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def clip_convex_padded(polys: np.ndarray, counts: np.ndarray, clip: np.ndarray):
    """Clip every polygon of ``polys`` (m, k, 2), ``counts`` valid
    vertices each, against the convex CCW ring ``clip`` (open).
    Returns (polys, counts) of the intersections, padded the same way."""
    for e in range(len(clip)):
        a, b = clip[e], clip[(e + 1) % len(clip)]
        m, k = polys.shape[:2]
        idx = np.arange(k)
        valid = idx[None, :] < counts[:, None]
        nxt = np.where(idx[None, :] + 1 < counts[:, None], idx[None, :] + 1, 0)
        p = polys
        q = np.take_along_axis(polys, nxt[:, :, None], axis=1)
        side_p = (b[0] - a[0]) * (p[..., 1] - a[1]) - (b[1] - a[1]) * (p[..., 0] - a[0])
        side_q = (b[0] - a[0]) * (q[..., 1] - a[1]) - (b[1] - a[1]) * (q[..., 0] - a[0])
        in_p, in_q = side_p >= 0, side_q >= 0
        denom = side_p - side_q
        t = np.where(denom != 0, side_p / np.where(denom != 0, denom, 1.0), 0.0)
        cross = p + t[..., None] * (q - p)
        # each edge p->q emits p (if inside), then the crossing point
        # (if the edge changes side): two output slots per input vertex
        out = np.stack([p, cross], axis=2).reshape(m, 2 * k, 2)
        keep = np.stack([in_p & valid, (in_p != in_q) & valid], axis=2).reshape(m, 2 * k)
        order = np.argsort(~keep, axis=1, kind="stable")
        polys = np.take_along_axis(out, order[:, :, None], axis=1)
        counts = keep.sum(axis=1)
        width = max(int(counts.max()) if m else 0, 1)
        polys = polys[:, :width]
    return polys, counts


def padded_areas(polys: np.ndarray, counts: np.ndarray) -> np.ndarray:
    k = polys.shape[1]
    idx = np.arange(k)
    valid = idx[None, :] < counts[:, None]
    nxt = np.where(idx[None, :] + 1 < counts[:, None], idx[None, :] + 1, 0)
    q = np.take_along_axis(polys, nxt[:, :, None], axis=1)
    terms = polys[..., 0] * q[..., 1] - q[..., 0] * polys[..., 1]
    return 0.5 * np.abs(np.sum(np.where(valid, terms, 0.0), axis=1))


class RoiOracle:
    """Brute-force kept-id sets over the seeded catchment quads."""

    def __init__(self, tree):
        self.tree = tree
        q = tree.quads
        self.bbox = np.stack(
            [q[:, :, 0].min(1), q[:, :, 1].min(1), q[:, :, 0].max(1), q[:, :, 1].max(1)], axis=1
        )
        self.area = padded_areas(q, np.full(len(q), 4))

    def expected(self, ring_lonlat: np.ndarray) -> tuple[set[str], set[str], int]:
        """(kept ids, exempt ids, expected attribute row count)."""
        ring = ring_lonlat[:-1] if np.array_equal(ring_lonlat[0], ring_lonlat[-1]) else ring_lonlat
        x, y = albers.forward(ring[:, 0], ring[:, 1])
        roi = np.column_stack([x, y])
        if _ring_area(roi) < 0:
            roi = roi[::-1]
        roi_area = _ring_area(roi)
        bb = self.bbox
        cand = np.nonzero(
            (bb[:, 2] >= roi[:, 0].min())
            & (bb[:, 0] <= roi[:, 0].max())
            & (bb[:, 3] >= roi[:, 1].min())
            & (bb[:, 1] <= roi[:, 1].max())
        )[0]
        if len(cand) == 0:
            return set(), set(), 0
        polys, counts = clip_convex_padded(self.tree.quads[cand], np.full(len(cand), 4), roi)
        inter = padded_areas(polys, counts)
        ratio = inter / self.area[cand]
        cover = inter / roi_area
        kept = (ratio >= OVERLAP_THRESHOLD_PCT / 100.0) | (cover >= 1.0 - CUT_EPS)
        exempt = (np.abs(ratio - OVERLAP_THRESHOLD_PCT / 100.0) <= CUT_EPS) | (
            np.abs(cover - 1.0) <= CUT_EPS
        )
        ids = self.tree.ids
        kept_ix = cand[kept]
        # one attribute row per hydrotable; the raster joins add at most
        # one match each, and keep gap rows as nulls
        return (
            {ids[i] for i in kept_ix},
            {ids[i] for i in cand[exempt]},
            int(self.tree.n_csv[kept_ix].sum()),
        )


def check_roi(oracle: RoiOracle, ring: np.ndarray, kept_ids: list[str], attr_ids: list[str]) -> str | None:
    """None when the query's output is right, else what is wrong."""
    want, exempt, n_attrs = oracle.expected(ring)
    got = set(kept_ids)
    if len(got) != len(kept_ids):
        return "duplicate ids in kept"
    diff = (got ^ want) - exempt
    if diff:
        return f"kept set differs from brute force on {len(diff)} ids"
    if set(attr_ids) != got:
        return "attribute ids differ from kept ids"
    if not exempt and len(attr_ids) != n_attrs:
        return f"attribute rows {len(attr_ids)} != expected {n_attrs}"
    return None


# ----------------------------------------------------------------- build


def _wkb_shell_area(buf: bytes) -> float:
    """Area of a little-endian WKB Polygon/MultiPolygon (shells minus
    holes), parsed here rather than by the engine's codec."""
    mv = memoryview(buf)
    gtype = int.from_bytes(mv[1:5], "little")
    if gtype == 3:
        polys = [5]
    elif gtype == 6:
        polys, off = [], 9
        for _ in range(int.from_bytes(mv[5:9], "little")):
            polys.append(off + 5)
            off = _skip_polygon(mv, off + 5)
    else:
        raise ValueError(f"unexpected WKB type {gtype}")
    total = 0.0
    for off in polys:
        nrings = int.from_bytes(mv[off : off + 4], "little")
        off += 4
        for r in range(nrings):
            npts = int.from_bytes(mv[off : off + 4], "little")
            pts = np.frombuffer(mv[off + 4 : off + 4 + 16 * npts], dtype="<f8").reshape(-1, 2)
            a = abs(_ring_area(pts))
            total += a if r == 0 else -a
            off += 4 + 16 * npts
    return total


def _skip_polygon(mv, off: int) -> int:
    nrings = int.from_bytes(mv[off : off + 4], "little")
    off += 4
    for _ in range(nrings):
        npts = int.from_bytes(mv[off : off + 4], "little")
        off += 4 + 16 * npts
    return off


def check_build(tree, rows, asset_counts: dict[str, int]) -> str | None:
    """``rows``: (catchment_id, branch_path, geometry, geom_count) of the
    committed catchments table; ``asset_counts``: committed rows per
    satellite table."""
    if len(rows) != len(tree.branch_paths):
        return f"{len(rows)} catchments != {len(tree.branch_paths)} live branches"
    want = {bp: i for i, bp in enumerate(tree.branch_paths)}
    area = padded_areas(tree.quads, np.full(len(tree.quads), 4))
    seen = set()
    for cid, bp, geom, n in rows:
        if bp not in want or bp in seen:
            return f"unexpected or repeated branch {bp}"
        seen.add(bp)
        i = want[bp]
        if cid != hashlib.sha256(bp.encode()).hexdigest():
            return f"catchment_id is not sha256({bp})"
        if n != tree.pieces[i]:
            return f"{bp}: {n} pieces unioned, generator made {tree.pieces[i]}"
        if abs(_wkb_shell_area(bytes(geom)) - area[i]) > 1e-9 * area[i]:
            return f"{bp}: dissolved area differs from the generator's quad"
    for name, n in tree.asset_rows.items():
        if asset_counts.get(name) != n:
            return f"{name}: {asset_counts.get(name)} rows != {n}"
    return None


# ---------------------------------------------------------------- assign


_EDGES = (
    ("x_sw", "y_sw", "x_se", "y_se"),
    ("x_se", "y_se", "x_ne", "y_ne"),
    ("x_ne", "y_ne", "x_nw", "y_nw"),
    ("x_nw", "y_nw", "x_sw", "y_sw"),
)


def expected_histogram(doc_ids: np.ndarray, chunk: int = 8192) -> dict[tuple[int, str], tuple[int, int]]:
    """(tile_id, method) -> (pages, xor of h3_r5..r9 and s2 cells).

    The pages' coordinates and res 5-9 cells and the tile table come
    from the oracle SQL in DuckDB; the tile of each page is found here
    by brute force, with the oracle's rules (``oracles.assign_cte``):
    the lowest tile id whose four half-planes all hold, else the tile
    with the nearest centre, ties to the lower id. Only the S2 cell ids
    come from the engine's own kernel (``geo.s2lite``)."""
    import duckdb
    import pandas as pd

    from hand_index_spark import oracles
    from hand_index_spark.geo import cells as h3lite
    from hand_index_spark.geo import s2lite
    from hand_index_spark.operators.encode import S2_LEVEL
    from hand_index_spark.tables import tilegrid as tg

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame({"doc_id": np.asarray(doc_ids, dtype=np.int64), "text": "", "lang": ""}))
        cells = ", ".join(f"{h3lite.encode_sql('lat', 'lon', r)} AS h3_r{r}" for r in (5, 6, 7, 8, 9))
        pts = con.execute(f"SELECT lat, lon, {cells} FROM ({oracles.pts_cte()})").fetchnumpy()
        t = con.execute(f"SELECT * FROM ({tg.tiles_sql()}) ORDER BY tile_id").fetchnumpy()
    finally:
        con.close()
    lat, lon = np.asarray(pts["lat"]), np.asarray(pts["lon"])
    t = {k: np.asarray(v) for k, v in t.items()}
    # a tile's corners lie inside its grid cell, so only the 3 x 3 grid
    # cells around a page can contain it
    slot = np.full(tg.NR * tg.NC, -1)
    slot[t["tile_id"]] = np.arange(len(t["tile_id"]))
    r0 = np.floor((lat - tg.LAT_MIN) / tg.H).astype(np.int64)
    c0 = np.floor((lon - tg.LON_MIN) / tg.W).astype(np.int64)
    none = np.iinfo(np.int64).max
    tile = np.full(len(lat), none)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            r, c = r0 + dr, c0 + dc
            on_grid = (r >= 0) & (r < tg.NR) & (c >= 0) & (c < tg.NC)
            k = np.where(on_grid, slot[np.where(on_grid, r * tg.NC + c, 0)], -1)
            inside = k >= 0
            k = np.maximum(k, 0)
            for x1, y1, x2, y2 in _EDGES:
                dx, dy = t[x2][k] - t[x1][k], t[y2][k] - t[y1][k]
                inside &= dx * (lat - t[y1][k]) - dy * (lon - t[x1][k]) >= 0.0
            tile = np.where(inside, np.minimum(tile, t["tile_id"][k]), tile)
    knn = tile == none
    miss = np.nonzero(knn)[0]
    for s in range(0, len(miss), chunk):
        m = miss[s : s + chunk]
        la, lo = lat[m, None], lon[m, None]
        d2 = (lo - t["cx"]) * (lo - t["cx"]) + (la - t["cy"]) * (la - t["cy"])
        tile[m] = t["tile_id"][np.argmin(d2, axis=1)]
    mix = s2lite.encode(lat, lon, S2_LEVEL)
    for res in (5, 6, 7, 8, 9):
        mix = mix ^ np.asarray(pts[f"h3_r{res}"], dtype=np.int64)
    key = tile * 2 + knn
    order = np.argsort(key, kind="stable")
    k, mixed = key[order], mix[order]
    starts = np.concatenate([[0], np.nonzero(np.diff(k))[0] + 1])
    counts = np.diff(np.concatenate([starts, [len(k)]]))
    xors = np.bitwise_xor.reduceat(mixed, starts) if len(k) else []
    return {
        (int(k[s] // 2), "knn" if k[s] % 2 else "pip"): (int(c), int(x))
        for s, c, x in zip(starts, counts, xors)
    }


def duckdb_assign(doc_ids: np.ndarray) -> dict[int, tuple[int, str]]:
    """doc_id -> (tile_id, method) from ``oracles.assign_cte`` in DuckDB."""
    import duckdb
    import pandas as pd

    from hand_index_spark import oracles

    con = duckdb.connect()
    try:
        docs = pd.DataFrame({"doc_id": np.asarray(doc_ids, dtype=np.int64), "text": "", "lang": ""})
        con.register("documents", docs)
        rows = con.execute(f"{oracles.assign_cte()} SELECT doc_id, tile_id, method FROM asg").fetchall()
    finally:
        con.close()
    return {int(d): (int(t), m) for d, t, m in rows}
