"""Packed broadcast spatial index over the polygon dimension.

Plays the role of the north rule's "broadcast STRtree prefilter": the
tile/catchment polygon set (the small dimension — thousands to low
millions of rows vs 10^12 points) is bulk-loaded once on the driver into
flat NumPy arrays, shipped to executors via ``spark.sparkContext
.broadcast``, and probed inside ``mapInPandas`` with zero per-row
Python. Two access paths:

- :meth:`query_point_candidates` — grid buckets keyed by h3lite cell of
  the point: O(1) candidate lists (tile assignment probes its regular
  grid instead, operators/assign.py; this probe is that path's test
  reference);
- :meth:`query_bbox` — vectorized bbox-overlap scan for polygon-vs-ROI
  prefilters (the viz envelope query, viz/query_visualization.py:150-156).

Exact refinement (ray-cast PIP / edge intersection) happens *after* the
candidate fetch, mirroring the reference's coarse-then-exact two-phase
filter (query_geojson.py:65-72 then :158-248).
"""

from __future__ import annotations

import numpy as np

from . import cells as h3lite
from . import polygon as P


class PackedPolygonIndex:
    """STR-style packed index: sorted flat arrays, no object graph.

    Pickles compactly for broadcast (pure ndarrays + one string list).
    """

    def __init__(self, ids: list, rings: list[np.ndarray], grid_res: int | None = None):
        if len(ids) != len(rings):
            raise ValueError("ids and rings must align")
        self.ids = list(ids)
        n = len(rings)
        if grid_res is None:
            # auto: bucket cells ~ half the median polygon extent, so each
            # polygon covers O(10) cells and each bucket holds O(1) polys
            if n:
                ext = np.median(
                    [max(r[:, 0].ptp(), r[:, 1].ptp(), 1e-9) for r in rings]
                )
                grid_res = int(np.clip(np.ceil(-np.log2(ext)) + 1, 0, 12))
            else:
                grid_res = 6
        self.grid_res = grid_res
        # ragged ring storage: one coord block + offsets
        lens = np.array([len(r) for r in rings], dtype=np.int64)
        self.ring_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=self.ring_off[1:])
        self.coords = (
            np.concatenate([np.asarray(r, dtype=np.float64) for r in rings], axis=0)
            if n
            else np.zeros((0, 2))
        )
        self.bbox = np.zeros((n, 4), dtype=np.float64)
        for k, r in enumerate(rings):
            self.bbox[k] = P.bbox_of(r)
        self.centroid = np.zeros((n, 2), dtype=np.float64)
        for k, r in enumerate(rings):
            self.centroid[k] = P.ring_centroid(r)
        # vertex mean with explicit left-assoc accumulation — the kNN
        # centroid definition, bit-identical to the SQL oracle's
        # (x_sw + x_se + x_ne + x_nw) * 0.25 expression
        self.vmean = np.zeros((n, 2), dtype=np.float64)
        for k, r in enumerate(rings):
            ax, ay = 0.0, 0.0
            for x, y in np.asarray(r, dtype=np.float64):
                ax = ax + float(x)
                ay = ay + float(y)
            self.vmean[k] = (ax * (1.0 / len(r)), ay * (1.0 / len(r)))
        # grid buckets: h3lite cell -> polygon indices whose bbox covers it
        bucket: dict[int, list[int]] = {}
        for k in range(n):
            xmin, ymin, xmax, ymax = self.bbox[k]
            for c in h3lite.cover_bbox(xmin, ymin, xmax, ymax, grid_res):
                bucket.setdefault(int(c), []).append(k)
        # pack dict -> sorted key array + ragged value block (binary search probe)
        keys = np.array(sorted(bucket), dtype=np.int64)
        self.bucket_keys = keys
        off = np.zeros(len(keys) + 1, dtype=np.int64)
        vals = []
        for i, c in enumerate(keys):
            vals.extend(bucket[int(c)])
            off[i + 1] = len(vals)
        self.bucket_off = off
        self.bucket_vals = np.array(vals, dtype=np.int64)

    def __len__(self) -> int:
        return len(self.ids)

    def ring(self, k: int) -> np.ndarray:
        return self.coords[self.ring_off[k] : self.ring_off[k + 1]]

    # ------------------------------------------------------------ probes

    def query_point_candidates(
        self, lat: np.ndarray, lon: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """For N points return (point_idx, poly_idx) candidate pairs.

        Vectorized: encode every point to its grid cell, binary-search the
        packed bucket keys, expand ragged value ranges with ``np.repeat``.
        """
        cell = h3lite.encode(lat, lon, self.grid_res)
        pos = np.searchsorted(self.bucket_keys, cell)
        pos = np.clip(pos, 0, len(self.bucket_keys) - 1) if len(self.bucket_keys) else pos
        hit = len(self.bucket_keys) > 0
        if not hit:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        found = self.bucket_keys[pos] == cell
        pidx = np.nonzero(found)[0]
        bpos = pos[found]
        starts = self.bucket_off[bpos]
        counts = self.bucket_off[bpos + 1] - starts
        point_idx = np.repeat(pidx, counts)
        total = int(counts.sum())
        if total == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        # vectorized ragged gather: for each matched bucket expand
        # [start, start+count) without a Python loop
        excl = np.concatenate([[0], np.cumsum(counts)[:-1]])
        take = np.repeat(starts - excl, counts) + np.arange(total, dtype=np.int64)
        poly_idx = self.bucket_vals[take]
        return point_idx, poly_idx

    def query_bbox(self, xmin: float, ymin: float, xmax: float, ymax: float) -> np.ndarray:
        """Polygon indices whose bbox overlaps the query bbox."""
        b = self.bbox
        m = (b[:, 2] >= xmin) & (b[:, 0] <= xmax) & (b[:, 3] >= ymin) & (b[:, 1] <= ymax)
        return np.nonzero(m)[0]

    # --------------------------------------------------------- refinement

    def assign_points(
        self, lat: np.ndarray, lon: np.ndarray, pip: str = "raycast"
    ) -> tuple[np.ndarray, np.ndarray]:
        """Exact PIP tile assignment for N points.

        ``pip``: "raycast" (general simple polygons, epsilon boundary) or
        "convex" (strict half-plane test — bit-identical to the SQL
        oracle's cross-product expression).

        Returns (poly_idx int64 with -1 for no hit, multi-hit resolved to
        the smallest polygon id for determinism — same tie-break as the
        SQL oracle).
        """
        pip_fn = P.points_in_convex if pip == "convex" else P.points_in_ring
        n = len(lat)
        point_idx, poly_idx = self.query_point_candidates(lat, lon)
        assigned = np.full(n, -1, dtype=np.int64)
        if len(point_idx) == 0:
            return assigned, np.zeros(0, dtype=np.int64)
        # group candidate pairs by polygon: one vectorized PIP per polygon
        order = np.argsort(poly_idx, kind="stable")
        point_idx, poly_idx = point_idx[order], poly_idx[order]
        id_rank = np.argsort(np.argsort(np.asarray(self.ids, dtype=object)))
        starts = np.nonzero(np.diff(poly_idx, prepend=poly_idx[0] - 1))[0]
        ends = np.append(starts[1:], len(poly_idx))
        best_rank = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        for s, e in zip(starts, ends):
            k = int(poly_idx[s])
            pts = point_idx[s:e]
            px, py = lon[pts], lat[pts]
            xmin, ymin, xmax, ymax = self.bbox[k]
            inbb = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
            if not inbb.any():
                continue
            sub = pts[inbb]
            inside = pip_fn(px[inbb], py[inbb], self.ring(k))
            hit_pts = sub[inside]
            rk = id_rank[k]
            better = rk < best_rank[hit_pts]
            upd = hit_pts[better]
            assigned[upd] = k
            best_rank[upd] = rk
        return assigned, point_idx
