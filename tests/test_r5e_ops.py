"""Round-5e operators: Hilbert locality keys, Strahler stream order,
stay-point detection, interval-coverage sweep, MAD outliers, grid
dilation — kernel unit tests (spec vectors, hand-built fixtures,
brute-force cross-checks, the Hilbert-vs-Morton locality measurement)
plus full oracle parity for each registered query."""

from __future__ import annotations

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


# ---------------------------------------------------------------- hilbert


def test_hilbert_spec_vectors():
    from hand_index_spark.operators.hilbert import hilbert_py

    # the canonical 2x2 U: (0,0)->0, (0,1)->1, (1,1)->2, (1,0)->3
    assert [hilbert_py(x, y, 1) for x, y in [(0, 0), (0, 1), (1, 1), (1, 0)]] == [
        0, 1, 2, 3,
    ]


def test_hilbert_is_bijective_and_unit_step():
    from hand_index_spark.operators.hilbert import hilbert_py

    pts = {hilbert_py(x, y, 4): (x, y) for x in range(16) for y in range(16)}
    assert len(pts) == 256  # bijection on the 16x16 grid
    for d in range(255):  # consecutive indices are UNIT grid steps
        (x0, y0), (x1, y1) = pts[d], pts[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_hilbert_spark_matches_pure_python(spark):
    from hand_index_spark.operators.hilbert import hilbert_py, with_hilbert

    df = spark.range(0, 4000, 7).select(
        F.col("id").alias("i"),
        ((F.col("id") * 48271) % 65536).alias("px"),
        ((F.col("id") * 69621) % 65536).alias("py"),
    )
    for r in with_hilbert(df, "px", "py").collect():
        assert r.hkey == hilbert_py(r.px, r.py)


def test_hilbert_plan_no_shuffle_no_python(spark):
    from hand_index_spark.operators.hilbert import with_hilbert

    df = spark.range(10).select(
        F.col("id").alias("px"), (F.col("id") * 3).alias("py")
    )
    plan = with_hilbert(df, "px", "py")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_hilbert_beats_morton_on_clustering_factor():
    # The clustering factor (Moon et al., the standard Hilbert-curve
    # result): how many CONTIGUOUS key runs a 2-D query box splits
    # into. Each run is a contiguous byte range / file segment a
    # range-clustered layout must touch, so fewer runs = fewer seeks
    # and tighter zone maps. Measured here, not cited: ~16.5 vs ~30.8
    # mean runs on random 16x16 boxes in a 256x256 grid — asserted
    # per-box (Hilbert never worse on any sampled box, and at least
    # 1.5x better in aggregate). NOT the per-step |Δkey| metric, where
    # Morton is ~1.2x better (measured) — the docstring says which
    # claim is which.
    from hand_index_spark.operators.hilbert import hilbert_py

    def morton(x, y):
        m = 0
        for b in range(8):
            m |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return m

    def runs(keys):
        keys = sorted(keys)
        return 1 + sum(1 for a, b in zip(keys, keys[1:]) if b != a + 1)

    rng = np.random.RandomState(7)
    th = tm = 0
    for _ in range(40):
        x0 = int(rng.randint(0, 256 - 16))
        y0 = int(rng.randint(0, 256 - 16))
        box = [(x, y) for x in range(x0, x0 + 16) for y in range(y0, y0 + 16)]
        rh = runs([hilbert_py(x, y, 8) for x, y in box])
        rm = runs([morton(x, y) for x, y in box])
        assert rh <= rm  # never worse on any box
        th += rh
        tm += rm
    assert th * 3 <= tm * 2  # >= 1.5x fewer runs in aggregate


def test_hilbert_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E, ORACLES as ORACLES5E

    assert_match(
        GEO5E["hilbert_encode"](spark, SF),
        ORACLES5E["hilbert_encode"],
        con,
        "hilbert_encode",
    )


# ---------------------------------------------------------------- strahler


def _forest(spark):
    # two order-1 pairs join into two order-2 cells, which join into an
    # order-3 confluence draining to a pit; plus one pass-through cell
    # (single child keeps the order).
    rows = [
        # gx, gy, elev, dir, tx, ty
        (0, 0, 9, 1, 1, 0),   # leaf -> J1
        (0, 1, 9, 1, 1, 0),   # leaf -> J1
        (1, 0, 8, 1, 2, 0),   # J1 (order 2) -> K
        (3, 0, 9, 16, 2, 0),  # leaf -> K? no: -> (2,0)
        (4, 0, 9, 16, 3, 1),  # leaf -> J2
        (4, 1, 9, 16, 3, 1),  # leaf -> J2
        (3, 1, 8, 1, 2, 0),   # J2 (order 2) -> K
        (2, 0, 7, 64, 2, 1),  # K -> P (pass-through keeps order)
        (2, 1, 6, 0, 2, 1),   # P: pit, absorbs
    ]
    return spark.createDataFrame(
        rows, schema="gx long, gy long, elev long, dir long, tx long, ty long"
    )


def test_strahler_hand_forest(spark):
    from hand_index_spark.operators.hydrology import strahler_order

    got = {
        (r.gx, r.gy): r.sorder
        for r in strahler_order(_forest(spark), rounds=6).collect()
    }
    # J1 has children {leaf1, leaf2} both order 1 -> 2; K has children
    # {J1(2), J2(2), leaf(1)} -> two at max 2 -> 3; P passes K through.
    assert got == {
        (0, 0): 1, (0, 1): 1, (4, 0): 1, (4, 1): 1, (3, 0): 1,
        (1, 0): 2, (3, 1): 2,
        (2, 0): 3, (2, 1): 3,
    }


def test_strahler_fixpoint_pinned(spark):
    # the registered 8 rounds are PAST the fixpoint on the noise DEM
    # (max flow path 6): one extra round changes nothing.
    from hand_index_spark.entry_queries_r5c import _dem_cells
    from hand_index_spark.entry_queries_r5e import _STRAHLER_ROUNDS
    from hand_index_spark.operators.hydrology import d8_flow, strahler_order

    flow = d8_flow(_dem_cells(spark, SF, valley=False)).localCheckpoint()
    a = sorted(
        (r.gx, r.gy, r.sorder)
        for r in strahler_order(flow, _STRAHLER_ROUNDS).collect()
    )
    b = sorted(
        (r.gx, r.gy, r.sorder)
        for r in strahler_order(flow, _STRAHLER_ROUNDS + 1).collect()
    )
    assert a == b
    assert max(s for _, _, s in a) >= 2  # confluences actually exist


def test_strahler_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E, ORACLES as ORACLES5E

    assert_match(
        GEO5E["strahler_order"](spark, SF),
        ORACLES5E["strahler_order"],
        con,
        "strahler_order",
    )


# ---------------------------------------------------------------- staypoints


def test_staypoint_brute_force(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E
    from hand_index_spark.entry_queries_r5e import _SP_MIN_STEPS, _SP_R2

    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.n_steps)
        for r in GEO5E["staypoint_detect"](spark, SF).collect()
    )
    # brute force in plain python over the same fixture
    rows = con.sql(
        "SELECT user_id, epoch_us(ts) AS us, event_id FROM events "
        "ORDER BY user_id, ts, event_id"
    ).fetchall()
    by_user: dict = {}
    for u, us, eid in rows:
        by_user.setdefault(u, []).append((us, eid))
    want = []
    for u, seq in by_user.items():
        run: list = []
        def flush(run):
            if len(run) >= _SP_MIN_STEPS:
                want.append((u, run[0][0], run[-1][1], len(run)))
        prev = None
        for us, eid in seq:
            lat = ((eid // 512) * 991) % 3000 + eid % 7
            lon = ((eid // 512) * 1637) % 4000 + eid % 11
            if prev is not None:
                d2 = (lat - prev[1]) ** 2 + (lon - prev[2]) ** 2
                if d2 <= _SP_R2:
                    run.append((prev[0], us))
                else:
                    flush(run)
                    run = []
            prev = (us, lat, lon)
        flush(run)
    assert got == sorted(want)


def test_staypoint_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E, ORACLES as ORACLES5E

    assert_match(
        GEO5E["staypoint_detect"](spark, SF),
        ORACLES5E["staypoint_detect"],
        con,
        "staypoint_detect",
    )


# ---------------------------------------------------------------- coverage


def test_interval_coverage_brute_force(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5E

    got = {
        r.user_id: (r.covered_us, r.n_islands, r.n_intervals)
        for r in TEXT5E["interval_coverage"](spark, SF).collect()
    }
    rows = con.sql(
        "SELECT user_id, epoch_us(ts) AS s, "
        "epoch_us(ts) + 600000000 + (event_id % 7) * 3600000000 AS e "
        "FROM events"
    ).fetchall()
    by_user: dict = {}
    for u, s, e in rows:
        by_user.setdefault(u, []).append((s, e))
    for u, ivs in by_user.items():
        ivs.sort()
        islands = []
        for s, e in ivs:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want = (sum(e - s for s, e in islands), len(islands), len(ivs))
        assert got[u] == want, u


def test_interval_coverage_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5E, TEXTOPS as TEXT5E

    assert_match(
        TEXT5E["interval_coverage"](spark, SF),
        ORACLES5E["interval_coverage"],
        con,
        "interval_coverage",
    )


# ---------------------------------------------------------------- MAD


def test_mad_outliers_closed_form(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5E

    got = TEXT5E["mad_outliers"](spark, SF).toPandas()
    vals = con.sql(
        "SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,"
        " event_id FROM events"
    ).df()
    for g, sub in vals.groupby("event_type"):
        med = float(np.median(sub["v"]))
        mad = float(np.median(np.abs(sub["v"] - med)))
        want = set(sub.loc[np.abs(sub["v"] - med) > 3 * mad, "event_id"])
        mine = set(got.loc[got["event_type"] == g, "event_id"])
        assert mine == want, g
        if not mine:
            continue
        row = got[got["event_type"] == g].iloc[0]
        assert row["med"] == med and row["mad"] == mad


def test_mad_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5E, TEXTOPS as TEXT5E

    assert_match(
        TEXT5E["mad_outliers"](spark, SF),
        ORACLES5E["mad_outliers"],
        con,
        "mad_outliers",
    )


# ---------------------------------------------------------------- dilation


def test_cell_dilate_properties(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E

    got = {
        (r.bgx, r.bgy): (r.core, r.n_src)
        for r in GEO5E["cell_dilate_cover"](spark, SF).collect()
    }
    src = set(
        con.sql(
            "SELECT DISTINCT (doc_id*37)%50, (doc_id*59)%40 FROM documents"
        ).fetchall()
    )
    want = {}
    for gx, gy in src:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                k = (gx + dx, gy + dy)
                c, n = want.get(k, (0, 0))
                want[k] = (max(c, 1 if dx == dy == 0 else 0), n + 1)
    assert got == want
    assert all(got[k][0] == 1 for k in src)  # every core cell flagged


def test_cell_dilate_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E, ORACLES as ORACLES5E

    assert_match(
        GEO5E["cell_dilate_cover"](spark, SF),
        ORACLES5E["cell_dilate_cover"],
        con,
        "cell_dilate_cover",
    )


# ---------------------------------------------------------------- watershed


def test_watershed_fixpoint_and_totality(spark):
    # 2^6 = 64 >= the valley DEM's longest D8 path (~31): every cell is
    # labeled, one extra doubling changes nothing, and every label is a
    # pit that drains to itself.
    from hand_index_spark.entry_queries_r5c import _dem_cells
    from hand_index_spark.entry_queries_r5e import _WS_J
    from hand_index_spark.operators.hydrology import d8_flow, watershed_label

    flow = d8_flow(_dem_cells(spark, SF, valley=True)).localCheckpoint()
    a = sorted(
        (r.gx, r.gy, r.basin_gx, r.basin_gy)
        for r in watershed_label(flow, _WS_J).collect()
    )
    b = sorted(
        (r.gx, r.gy, r.basin_gx, r.basin_gy)
        for r in watershed_label(flow, _WS_J + 1).collect()
    )
    assert a == b
    n_cells = flow.count()
    assert len(a) == n_cells  # total: every cell reaches a pit
    pits = {(r.gx, r.gy) for r in flow.where("dir = 0").collect()}
    assert {(bx, by) for _, _, bx, by in a} <= pits
    assert len({(bx, by) for _, _, bx, by in a}) >= 2  # >1 real basin


def test_watershed_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E, ORACLES as ORACLES5E

    assert_match(
        GEO5E["watershed_label"](spark, SF),
        ORACLES5E["watershed_label"],
        con,
        "watershed_label",
    )


# ---------------------------------------------------------------- hilbert IO


def test_hilbert_aligned_block_is_contiguous():
    # the layout guarantee hilbert_pruned_read leans on: an ALIGNED
    # power-of-two block's keys form one contiguous run — at several
    # block sizes and positions, not just the query's box.
    from hand_index_spark.operators.hilbert import hilbert_py

    for size, (bx, by) in [(8, (1, 0)), (8, (2, 1)), (4, (5, 3)), (16, (1, 1))]:
        ks = sorted(
            hilbert_py(x, y, 16)
            for x in range(bx * size, (bx + 1) * size)
            for y in range(by * size, (by + 1) * size)
        )
        assert ks[-1] - ks[0] == size * size - 1, (size, bx, by)


def test_hilbert_pruned_read_skips_and_matches(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5E, ORACLES as ORACLES5E

    row = GEO5E["hilbert_pruned_read"](spark, SF).collect()[0]
    assert row.pruned  # files were genuinely skipped
    assert_match(
        GEO5E["hilbert_pruned_read"](spark, SF),
        ORACLES5E["hilbert_pruned_read"],
        con,
        "hilbert_pruned_read",
    )
