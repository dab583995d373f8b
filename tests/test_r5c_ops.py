"""Round-5c operators: geodesic band join, quadkey codec, triangle
counting, weighted SSSP, IDW interpolation, Moran's I, sitemap
extraction — kernel unit tests (spec vectors, closed forms, brute-force
cross-checks) plus full oracle parity for each registered query."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ---------------------------------------------------------------- quadkey


def test_quadkey_spec_vector_bing_doc():
    # Bing Maps tile-system doc: tile (3, 5) at level 3 -> "213"
    from hand_index_spark.geo.quadkey import quadkey_py

    assert quadkey_py(3, 5, 3) == "213"
    assert quadkey_py(0, 0, 1) == "0"
    assert quadkey_py(1, 0, 1) == "1"
    assert quadkey_py(0, 1, 1) == "2"
    assert quadkey_py(1, 1, 1) == "3"


def test_tile_xy_spec_vectors():
    from hand_index_spark.geo.quadkey import tile_xy_py

    # corners and center of the spec's tile space
    assert tile_xy_py(0.0, 0.0, 1) == (1, 1)  # x=0.5,y=0.5 -> tile (1,1)
    assert tile_xy_py(85.05112878, -180.0, 1) == (0, 0)
    assert tile_xy_py(-85.05112878, 179.999, 1) == (1, 1)
    # Bing doc example: Seattle-ish (47.61, -122.33) at level 3 ->
    # lon x = (57.67)/360 = 0.1602 -> tx = floor(0.1602*8) = 1
    tx, ty = tile_xy_py(47.61, -122.33, 3)
    assert (tx, ty) == (1, 2)


def test_spark_quadkey_matches_pure_python(spark):
    from hand_index_spark.geo.quadkey import quadkey, quadkey_py, tile_xy, tile_xy_py

    rows = [(i, (i * 9176) % 160000 - 80000, (i * 30269) % 360000 - 180000)
            for i in range(0, 400, 7)]
    df = spark.createDataFrame(
        rows, schema="i long, lat_md long, lon_md long"
    )
    tx, ty = tile_xy(F.col("lat_md"), F.col("lon_md"), 12)
    got = {
        r["i"]: (r["tx"], r["ty"], r["qk"])
        for r in df.select(
            "i", tx.alias("tx"), ty.alias("ty"),
        ).withColumn("qk", quadkey(F.col("tx"), F.col("ty"), 12)).collect()
    }
    for i, lat_md, lon_md in rows:
        etx, ety = tile_xy_py(lat_md / 1000.0, lon_md / 1000.0, 12)
        assert got[i] == (etx, ety, quadkey_py(etx, ety, 12)), i


# ---------------------------------------------------------------- sphere


def _hav_py(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    s1 = math.sin((p2 - p1) / 2.0)
    s2 = math.sin((math.radians(lon2) - math.radians(lon1)) / 2.0)
    h = s1 * s1 + math.cos(p1) * math.cos(p2) * s2 * s2
    return 2.0 * math.asin(math.sqrt(h)) * 6371000.0


def test_haversine_known_distances(spark):
    from hand_index_spark.geo.sphere import haversine_floor_meters

    # 1 degree of meridian arc on the 6371km sphere = 111194.9m
    df = spark.createDataFrame(
        [(0, 0, 1000, 0), (45000, 10000, 45000, 11000), (30000, 0, 31000, 1000)],
        schema="lat1 long, lon1 long, lat2 long, lon2 long",
    )
    got = [
        r[0]
        for r in df.select(
            haversine_floor_meters(
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
            )
        ).collect()
    ]
    assert got[0] == 111194  # floor(111194.92...)
    # same expression in pure python agrees to the floor meter
    exp1 = math.floor(_hav_py(45.0, 10.0, 45.0, 11.0))
    assert abs(got[1] - exp1) <= 1  # trig ulp slack vs libm
    assert got[1] == 78626  # pinned: ~cos(45 deg) * 111 km


def test_geodesic_band_pairs_vs_bruteforce(spark):
    from hand_index_spark.geo.sphere import geodesic_band_pairs

    pts = [(i, 40000 + (i * 991) % 3000, (i * 1637) % 4000 - 2000)
           for i in range(120)]
    df = spark.createDataFrame(pts, schema="id long, lat long, lon long")
    got = {
        (r["a_id"], r["b_id"]): r["meters"]
        for r in geodesic_band_pairs(df, "id", "lat", "lon", 50_000).collect()
    }
    want = {}
    for i, (a, alat, alon) in enumerate(pts):
        for b, blat, blon in pts[i + 1:]:
            m = math.floor(
                _hav_py(alat / 1e3, alon / 1e3, blat / 1e3, blon / 1e3)
            )
            if m <= 50_000:
                want[(a, b)] = m
    assert set(got) == set(want)
    for k, m in want.items():
        assert abs(got[k] - m) <= 1, k  # JVM-vs-libm last-ulp slack only


# ---------------------------------------------------------------- graph


def test_triangle_counts_k4(spark):
    from hand_index_spark.operators.graph import triangle_node_counts

    # K4: every node is in C(3,2) = 3 triangles; edges given directed
    # and duplicated to exercise canonicalization
    edges = [(a, b) for a in range(4) for b in range(4) if a != b]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_node_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_ring_plus_chord(spark):
    from hand_index_spark.operators.graph import triangle_node_counts

    # square 0-1-2-3-0 has no triangle; chord (0,2) makes two
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)], schema="src long, dst long"
    )
    got = {r["node"]: r["triangles"] for r in triangle_node_counts(df).collect()}
    assert got == {0: 2, 1: 1, 2: 2, 3: 1}


def test_sssp_rounds_small_graph(spark):
    from hand_index_spark.operators.graph import sssp_rounds

    # 0 ->1 (w5), 0->2 (w1), 2->1 (w1), 1->3 (w1): dist(1)=2 via 2
    edges = spark.createDataFrame(
        [(0, 1, 5), (0, 2, 1), (2, 1, 1), (1, 3, 1)],
        schema="src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(0,)], schema="node long")
    got = {r["node"]: r["dist"] for r in sssp_rounds(edges, seeds, 4).collect()}
    assert got == {0: 0, 1: 2, 2: 1, 3: 3}


# ---------------------------------------------------------------- idw


def test_idw_exact_two_sites(spark):
    from hand_index_spark.operators.interpolate import idw_interpolate

    q = spark.createDataFrame([(1, 0, 0)], schema="qid long, px long, py long")
    s = spark.createDataFrame(
        [(10, 1, 0, 8), (11, 0, 3, 5), (12, 100, 100, 999)],
        schema="sid long, px long, py long, v long",
    )
    out = idw_interpolate(q, "qid", s, "sid", "px", "py", "v", 4, 10).collect()
    assert len(out) == 1
    r = out[0]
    # d2 = 1 and 9: idw = (8/1 + 5/9) / (1/1 + 1/9)
    want = ((0.0 + 8.0 / 1.0) + 5.0 / 9.0) / ((0.0 + 1.0 / 1.0) + 1.0 / 9.0)
    assert r["n_sites"] == 2
    assert r["idw"] == want  # bit-exact: same IEEE op order


# ---------------------------------------------------------------- moran


def test_morans_i_checkerboard_is_minus_one(spark):
    from hand_index_spark.operators.autocorr import morans_i

    # perfect checkerboard: every rook neighbor pair is opposite-signed
    # => I = -1 exactly (num = -W*c^2, den = n*c^2)
    rows = [(x, y, 10 if (x + y) % 2 == 0 else 4)
            for x in range(6) for y in range(6)]
    df = spark.createDataFrame(rows, schema="gx long, gy long, v long")
    r = morans_i(df, "gx", "gy", "v").collect()[0]
    assert r["n"] == 36
    assert r["w_pairs"] == 2 * (2 * 6 * 5)  # directed rook pairs on 6x6
    assert r["morans_i"] == -1.0


def test_morans_i_constant_field_is_null(spark):
    from hand_index_spark.operators.autocorr import morans_i

    rows = [(x, y, 7) for x in range(3) for y in range(3)]
    df = spark.createDataFrame(rows, schema="gx long, gy long, v long")
    r = morans_i(df, "gx", "gy", "v").collect()[0]
    assert r["den"] == 0 and r["num"] == 0  # 0/0 -> NULL statistic
    assert r["morans_i"] is None


# ---------------------------------------------------------------- parity


@pytest.mark.parametrize(
    "key",
    [
        "geodesic_band_join",
        "quadkey_encode",
        "triangle_counts",
        "sssp_weighted",
        "idw_interpolate",
        "morans_i_grid",
        "sitemap_extract",
    ],
)
def test_oracle_parity(spark, con, key):
    from hand_index_spark.entry_queries import (
        GEO_QUERIES as GEO5C,
        ORACLES as ORACLES5C,
        TEXTOPS as TEXT5C,
    )

    fn = GEO5C.get(key) or TEXT5C[key]
    assert_match(fn(spark, SF), ORACLES5C[key], con, key)


# ------------------------------------------------------------- hydrology


_D8_DIRS = [
    (1, 0, 1, True), (1, -1, 2, False), (0, -1, 4, True),
    (-1, -1, 8, False), (-1, 0, 16, True), (-1, 1, 32, False),
    (0, 1, 64, True), (1, 1, 128, False),
]


def _d8_py(cells: dict) -> dict:
    """Brute-force D8 twin: cells {(gx,gy): elev} -> {(gx,gy): (dir,tx,ty)}."""
    out = {}
    for (gx, gy), e in cells.items():
        best = None  # (rank, inv_pri, code, nx, ny)
        for pri, (dx, dy, code, card) in enumerate(_D8_DIRS):
            n = (gx + dx, gy + dy)
            if n in cells and cells[n] < e:
                drop = e - cells[n]
                rank = drop * drop * (2 if card else 1)
                key = (rank, 7 - pri, code, n[0], n[1])
                if best is None or key > best:
                    best = key
        out[(gx, gy)] = (best[2], best[3], best[4]) if best else (0, gx, gy)
    return out


def test_d8_flow_matches_bruteforce(spark):
    from hand_index_spark.operators.hydrology import d8_flow

    cells = {(x, y): (x * 37 + y * 61) % 23 + ((x * y) % 3)
             for x in range(7) for y in range(6)}
    df = spark.createDataFrame(
        [(x, y, e) for (x, y), e in cells.items()],
        schema="gx long, gy long, elev long",
    )
    got = {(r["gx"], r["gy"]): (r["dir"], r["tx"], r["ty"])
           for r in d8_flow(df).collect()}
    assert got == _d8_py(cells)


def test_d8_diagonal_beats_cardinal_by_slope(spark):
    from hand_index_spark.operators.hydrology import d8_flow

    # center elev 10; E neighbor drop 2 (slope 2), SE drop 3
    # (slope 3/sqrt2 ~ 2.12) -> SE (code 2) must win: 2*2^2=8 < 3^2=9
    rows = [(1, 1, 10), (2, 1, 8), (2, 0, 7), (0, 0, 99), (1, 0, 99),
            (0, 1, 99), (0, 2, 99), (1, 2, 99), (2, 2, 99)]
    df = spark.createDataFrame(rows, schema="gx long, gy long, elev long")
    got = {(r["gx"], r["gy"]): r["dir"] for r in d8_flow(df).collect()}
    assert got[(1, 1)] == 2


def test_d8_equal_cardinal_drops_take_priority_order(spark):
    from hand_index_spark.operators.hydrology import d8_flow

    # E and S both drop 5 -> E (priority 0, code 1) wins
    rows = [(1, 1, 10), (2, 1, 5), (1, 0, 5)]
    df = spark.createDataFrame(rows, schema="gx long, gy long, elev long")
    got = {(r["gx"], r["gy"]): r["dir"] for r in d8_flow(df).collect()}
    assert got[(1, 1)] == 1


def test_flow_accumulation_chain_and_fixpoint(spark):
    from hand_index_spark.operators.hydrology import d8_flow, flow_accumulation

    # strictly descending W->E chain: every cell flows E, acc = #upstream
    rows = [(x, 0, 10 - x) for x in range(5)]
    df = spark.createDataFrame(rows, schema="gx long, gy long, elev long")
    flow = d8_flow(df)
    got = {(r["gx"], r["gy"]): r["acc"]
           for r in flow_accumulation(flow, 6).collect()}
    assert got == {(0, 0): 0, (1, 0): 1, (2, 0): 2, (3, 0): 3, (4, 0): 4}
    # rounds beyond the longest path change nothing
    again = {(r["gx"], r["gy"]): r["acc"]
             for r in flow_accumulation(flow, 8).collect()}
    assert again == got


def test_registered_flow_accumulation_is_at_fixpoint(spark):
    from hand_index_spark.entry_queries_r5c import _ACC_ROUNDS, _dem_cells
    from hand_index_spark.operators.hydrology import d8_flow, flow_accumulation

    flow = d8_flow(_dem_cells(spark, SF, valley=False)).localCheckpoint(True)
    a = flow_accumulation(flow, _ACC_ROUNDS).collect()
    b = flow_accumulation(flow, _ACC_ROUNDS + 1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hand_pointer_doubling_long_path(spark):
    from hand_index_spark.operators.hydrology import d8_flow, hand_height

    # 9-step descending chain into a drainage cell (elev 0): J=2 (4
    # hops) must NOT reach from the far end; J=4 (16 hops) reaches all
    rows = [(x, 0, 9 - x) for x in range(10)]
    df = spark.createDataFrame(rows, schema="gx long, gy long, elev long")
    flow = d8_flow(df).localCheckpoint(True)
    near = {(r["gx"], r["gy"]): r["hand"]
            for r in hand_height(flow, 0, 2).collect()}
    full = {(r["gx"], r["gy"]): r["hand"]
            for r in hand_height(flow, 0, 4).collect()}
    assert (0, 0) not in near and len(near) == 5  # cells within 4 hops
    assert full == {(x, 0): 9 - x for x in range(10)}


def test_hand_pit_basins_are_excluded(spark):
    from hand_index_spark.operators.hydrology import d8_flow, hand_height

    # two basins: left drains to elev-0 cell, right to a pit (elev 5)
    rows = [(0, 0, 0), (1, 0, 3), (2, 0, 9), (3, 0, 8), (4, 0, 5)]
    df = spark.createDataFrame(rows, schema="gx long, gy long, elev long")
    got = {(r["gx"], r["gy"]): r["hand"]
           for r in hand_height(d8_flow(df), 0, 3).collect()}
    assert got == {(0, 0): 0, (1, 0): 3, (2, 0): 9}  # 2,0 flows W (tie rule)


@pytest.mark.parametrize(
    "key", ["d8_flow_dir", "flow_accumulation", "hand_height"]
)
def test_hydrology_oracle_parity(spark, con, key):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5C, ORACLES as ORACLES5C

    assert_match(GEO5C[key](spark, SF), ORACLES5C[key], con, key)


# -------------------------------------------------------- kde + cohort


def test_kde_single_point_kernel_shape(spark):
    from hand_index_spark.entry_queries_r5c import _KDE_G, _KDE_R

    # one point at a cell center: its own cell weighs R^2, a cell G
    # away weighs R^2 - G^2; outside R contributes nothing
    df = spark.createDataFrame([(200, 200)], schema="px long, py long")
    g, r = _KDE_G, _KDE_R
    cand = df.select(
        "px", "py",
        F.expr(f"explode(sequence((px - {r} + {g - 1}) DIV {g}, (px + {r}) DIV {g}))").alias("cx"),
    ).select(
        "px", "py", "cx",
        F.expr(f"explode(sequence((py - {r} + {g - 1}) DIV {g}, (py + {r}) DIV {g}))").alias("cy"),
    )
    d2 = (F.col("px") - F.col("cx") * g) * (F.col("px") - F.col("cx") * g) + (
        F.col("py") - F.col("cy") * g) * (F.col("py") - F.col("cy") * g)
    got = {(rw["cx"], rw["cy"]): rw["density"]
           for rw in cand.where(d2 < r * r).groupBy("cx", "cy")
           .agg(F.sum(F.lit(r * r) - d2).cast("long").alias("density")).collect()}
    assert got[(8, 8)] == r * r
    assert got[(9, 8)] == r * r - g * g
    assert (12, 8) not in got  # d = 4G = R exactly -> strict < excludes
    # brute-force total: every in-range cell accounted for
    want = {}
    for cx in range(4, 13):
        for cy in range(4, 13):
            dd = (200 - cx * g) ** 2 + (200 - cy * g) ** 2
            if dd < r * r:
                want[(cx, cy)] = r * r - dd
    assert got == want


@pytest.mark.parametrize("key", ["kde_heatmap", "cohort_retention"])
def test_kde_cohort_oracle_parity(spark, con, key):
    from hand_index_spark.entry_queries import (
        GEO_QUERIES as GEO5C,
        ORACLES as ORACLES5C,
        TEXTOPS as TEXT5C,
    )

    fn = GEO5C.get(key) or TEXT5C[key]
    assert_match(fn(spark, SF), ORACLES5C[key], con, key)


# -------------------------------------------------- trajectory + winnow


def test_trajectory_length_hand_computed(spark):
    from pyspark.sql import Window as W

    from hand_index_spark.geo.sphere import haversine_floor_meters

    rows = [(1, 0, 40000, 0), (1, 1, 40000, 1000), (1, 2, 41000, 1000),
            (2, 0, 45000, 5000)]
    df = spark.createDataFrame(
        rows, schema="user_id long, seq long, lat long, lon long"
    )
    w = W.partitionBy("user_id").orderBy("seq")
    seg = df.select(
        "user_id",
        F.lag("lat").over(w).alias("plat"), F.lag("lon").over(w).alias("plon"),
        "lat", "lon",
    ).where(F.col("plat").isNotNull())
    m = haversine_floor_meters(F.col("plat"), F.col("plon"),
                               F.col("lat"), F.col("lon"))
    got = {r["user_id"]: (r["n"], r["t"]) for r in seg.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum(m).alias("t")).collect()}
    leg1 = math.floor(_hav_py(40.0, 0.0, 40.0, 1.0))
    leg2 = math.floor(_hav_py(40.0, 1.0, 41.0, 1.0))
    assert got[1][0] == 2
    assert abs(got[1][1] - (leg1 + leg2)) <= 2  # <=1 ulp-floor slack per leg
    assert 2 not in got  # single-point user: no segments


def test_winnowing_shared_substring_shares_fingerprint(spark):
    from hand_index_spark.entry_queries_r5c import _WIN_K, _WIN_W, _q_winnow

    # the MOSS guarantee: a shared run of >= w+k-1 tokens yields at
    # least one shared (fingerprint) value between the two docs
    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w+k-1 tokens
    import pandas as pd
    import tempfile, os
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [f"one two {shared} three four",
                 f"nine eight seven {shared} six",
                 "totally different words everywhere in this document here"],
        "lang": ["en", "en", "en"],
    })
    tmp = tempfile.mkdtemp(prefix="winnow_t_")
    docs.to_parquet(os.path.join(tmp, "documents.parquet"))
    out = _q_winnow(spark, tmp).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1], "shared substring produced no shared fingerprint"
    assert not (fps[0] & fps[1] & fps[2])


def test_winnowing_rightmost_min_convention(spark):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5C

    # every selected pos must be the RIGHTMOST index attaining the min
    # in at least one w-window; verify against a python replay
    from hand_index_spark.operators.dedup import token_hash_col  # noqa: F401
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    rows = con.sql(
        "SELECT doc_id, string_split(text, ' ') AS t FROM documents LIMIT 5"
    ).fetchall()
    got = {}
    for r in TEXT5C["winnow_fingerprints"](spark, SF).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    P, K, W_ = 1000003, 3, 4
    def th(tok):
        return (len(tok) * 2654435761 + ord(tok[0]) * 65599
                + ord(tok[-1]) * 97) % 1000003
    for doc_id, t in rows:
        if len(t) < K + W_ - 1:
            assert doc_id not in got
            continue
        h = [th(x) for x in t]
        g = [(h[i] * 961 + h[i + 1] * 31 + h[i + 2]) % P
             for i in range(len(h) - K + 1)]
        want = set()
        for j in range(len(g) - W_ + 1):
            win = g[j:j + W_]
            mv = min(win)
            pos = j + max(k for k, v in enumerate(win) if v == mv)
            want.add((pos, mv))
        assert got.get(doc_id, set()) == want, doc_id


@pytest.mark.parametrize("key", ["trajectory_length", "winnow_fingerprints"])
def test_traj_winnow_oracle_parity(spark, con, key):
    from hand_index_spark.entry_queries import (
        GEO_QUERIES as GEO5C,
        ORACLES as ORACLES5C,
        TEXTOPS as TEXT5C,
    )

    fn = GEO5C.get(key) or TEXT5C[key]
    assert_match(fn(spark, SF), ORACLES5C[key], con, key)


# ------------------------------------------------------------------ cdc


def test_cdc_chunks_resync_after_insert(spark):
    # THE content-defined property: inserting one char shifts every
    # fixed-size block, but CDC boundaries re-sync — the two docs must
    # share at least one identical chunk sha after the insertion point
    import os
    import tempfile

    import pandas as pd

    from hand_index_spark.entry_queries_r5c import _q_cdc_chunks

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while seventeen crawlers index forty two pages of dense text "
            "covering geography hydrology and tokenization at scale with "
            "deterministic integer arithmetic everywhere in the pipeline")
    docs = pd.DataFrame({
        "doc_id": [0, 1],
        "text": [base, "X" + base],
        "lang": ["en", "en"],
    })
    tmp = tempfile.mkdtemp(prefix="cdc_t_")
    docs.to_parquet(os.path.join(tmp, "documents.parquet"))
    rows = _q_cdc_chunks(spark, tmp).collect()
    shas = {0: set(), 1: set()}
    for r in rows:
        shas[r["doc_id"]].add(r["chunk_sha"])
    assert shas[0] & shas[1], "CDC failed to re-sync after a 1-char insert"
    # coverage invariant: chunk lengths tile the text exactly
    ln = {0: 0, 1: 0}
    for r in rows:
        ln[r["doc_id"]] += r["ln"]
    assert ln[0] == len(base) and ln[1] == len(base) + 1


def test_cdc_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5C, TEXTOPS as TEXT5C

    assert_match(
        TEXT5C["cdc_chunks"](spark, SF), ORACLES5C["cdc_chunks"], con,
        "cdc_chunks",
    )


# ---------------------------------------------------------------- tfidf


def test_tfidf_pairs_planted_near_duplicates(spark):
    import os
    import tempfile

    import pandas as pd

    from hand_index_spark.entry_queries_r5c import _q_tfidf_pairs

    # docs 0/1 share rare vocabulary (cos ~ 1), doc 2 is disjoint
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["zephyr quasar nebulae photon entropy",
                 "zephyr quasar nebulae photon vortex",
                 "apple banana cherry mango papaya"],
        "lang": ["en"] * 3,
    })
    tmp = tempfile.mkdtemp(prefix="tfidf_t_")
    docs.to_parquet(os.path.join(tmp, "documents.parquet"))
    got = {(r["a"], r["b"]) for r in _q_tfidf_pairs(spark, tmp).collect()}
    assert (0, 1) in got
    assert not any(2 in p for p in got)


def test_tfidf_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5C, TEXTOPS as TEXT5C

    assert_match(
        TEXT5C["tfidf_cosine_pairs"](spark, SF),
        ORACLES5C["tfidf_cosine_pairs"], con, "tfidf_cosine_pairs",
    )


# ---------------------------------------------------------------- kcore


def test_k_core_peels_pendant_cascade(spark):
    from hand_index_spark.operators.graph import k_core

    # K4 (a true 3-core) + pendant path 4-5-6 anchored at node 0:
    # 6 peels r1 (deg 1), 5 peels r2, 4 peels r3 -> K4 survives intact
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges += [(0, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {r["node"]: r["deg"] for r in k_core(df, 3, 5).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # too few rounds: the cascade hasn't reached node 4 yet, and the
    # half-open last round leaves 0-4 trimmed but 4 not yet re-checked
    partial = {r["node"] for r in k_core(df, 3, 1).collect()}
    assert partial >= {0, 1, 2, 3}


def test_registered_kcore_is_ring_only_at_fixpoint(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5C

    rows = TEXT5C["kcore_nodes"](spark, SF).collect()
    n = 500  # sf0.01 documents
    assert len(rows) == n  # exactly the ring; all 10 path nodes peeled
    assert all(r["deg"] == 4 and r["node"] < n for r in rows)


def test_kcore_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5C, TEXTOPS as TEXT5C

    assert_match(
        TEXT5C["kcore_nodes"](spark, SF), ORACLES5C["kcore_nodes"], con,
        "kcore_nodes",
    )


# --------------------------------------------------------------- dbscan


def test_dbscan_two_blobs_and_noise(spark):
    from hand_index_spark.operators.cluster import dbscan

    # blob A: 4 points in a tight square; blob B: 4 points far away;
    # one isolated noise point; one border point near blob A only
    rows = [(0, 0, 0), (1, 0, 2), (2, 2, 0), (3, 2, 2),        # blob A
            (10, 100, 100), (11, 100, 102), (12, 102, 100), (13, 102, 102),
            (20, 50, 50),                                       # noise
            (30, 0, 5)]                                         # border of A
    df = spark.createDataFrame(rows, schema="id long, px long, py long")
    out = {r["id"]: (r["cluster_id"], r["role"])
           for r in dbscan(df, "id", "px", "py", 3, 3).collect()}
    assert all(out[i] == (0, "core") for i in range(4))
    assert all(out[i] == (10, "core") for i in (10, 11, 12, 13))
    assert 20 not in out                       # noise omitted
    assert out[30] == (0, "border")            # attaches to min core nbr
    # border point is NOT core (only 2-neighborhood incl self)


def test_dbscan_border_attaches_to_min_core_neighbor(spark):
    from hand_index_spark.operators.cluster import dbscan

    # border point 99 within eps of ONE core from each of two
    # clusters (too few neighbors to be core itself at min_pts=4):
    # pinned to the minimum core neighbor id (deterministic convention)
    rows = [(0, 0, 0), (1, 0, 1), (2, 1, 0), (3, 1, 1),      # cluster 0
            (10, 7, 0), (11, 7, 1), (12, 8, 0), (13, 8, 1),  # cluster 10
            (99, 4, 0)]  # nbrs: core 2 (d=3) and core 10 (d=3) + self = 3
    df = spark.createDataFrame(rows, schema="id long, px long, py long")
    out = {r["id"]: (r["cluster_id"], r["role"])
           for r in dbscan(df, "id", "px", "py", 3, 4).collect()}
    assert out[99] == (0, "border")  # min core neighbor is 2 -> cluster 0
    assert out[0][0] == 0 and out[10][0] == 10


def test_dbscan_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5C, ORACLES as ORACLES5C

    assert_match(
        GEO5C["dbscan_clusters"](spark, SF), ORACLES5C["dbscan_clusters"],
        con, "dbscan_clusters",
    )


# ------------------------------------------------------ stream geofence


def test_stream_geofence_parity_and_nontrivial(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5C, ORACLES as ORACLES5C

    df = GEO5C["stream_geofence"](spark, SF)
    rows = df.collect()
    total = sum(r["n_inside"] for r in rows)
    assert 0 < total < 10000  # fence keeps a strict, non-empty subset
    assert_match(df, ORACLES5C["stream_geofence"], con, "stream_geofence")


def test_fence_polygon_is_convex_ccw():
    from hand_index_spark.entry_queries_r5c import _FENCE

    n = len(_FENCE)
    for i in range(n):
        x1, y1 = _FENCE[i]
        x2, y2 = _FENCE[(i + 1) % n]
        x3, y3 = _FENCE[(i + 2) % n]
        cross = (x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2)
        assert cross > 0  # strictly convex, CCW -> half-planes valid
