"""Round-5h operators: Sutherland-Hodgman tile clipping (pure-Catalyst
fold), Minkowski buffer via real hull construction, DSIR importance
weights, label-propagation communities — kernel invariants
(hand-computed clip areas on non-axis-aligned subjects, python LPA
replay) plus full oracle parity for each registered query.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ------------------------------------------------------------------- clip


def _clip_area(spark, ring_pts, box):
    """Run the Catalyst clip kernel on one python ring; return the
    signed area (shoelace/2) of the clipped polygon."""
    from hand_index_spark.operators.clip import clip_to_box, ring_area2

    df = spark.createDataFrame(
        [(ring_pts,)], schema="poly array<struct<x:double,y:double>>"
    )
    xmin, xmax, ymin, ymax = box
    out = df.select(
        (
            ring_area2(
                clip_to_box(
                    F.col("poly"),
                    F.lit(float(xmin)),
                    F.lit(float(xmax)),
                    F.lit(float(ymin)),
                    F.lit(float(ymax)),
                )
            )
            / 2.0
        ).alias("a")
    )
    return out.collect()[0].a


def test_clip_triangle_hand_computed(spark):
    # CCW right triangle (0,0)-(10,0)-(0,10), clip to [0,5]^2: the
    # hypotenuse x+y=10 cuts the top-right corner of the box at (5,5),
    # leaving the full 25-unit square => area 25 exactly.
    tri = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    assert _clip_area(spark, tri, (0, 5, 0, 5)) == 25.0
    # clip to [4,8]x[4,8]: region x>=4, y>=4, x+y<=10 is a right
    # triangle with legs 2 => area 2.
    assert _clip_area(spark, tri, (4, 8, 4, 8)) == 2.0


def test_clip_inside_outside_degenerate(spark):
    sq = [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)]
    # fully inside: unchanged area 4
    assert _clip_area(spark, sq, (0, 10, 0, 10)) == 4.0
    # fully outside: empty ring => 0
    assert _clip_area(spark, sq, (5, 9, 5, 9)) == 0.0
    # box edge touches polygon edge only: zero-width slice => 0
    assert _clip_area(spark, sq, (3, 9, 0, 9)) == 0.0


def test_clip_diamond_to_unit_box(spark):
    # diamond |x|+|y| <= 2 centered at origin, clip to [0,2]x[0,2]
    # (one quadrant): right triangle with legs 2 => area 2.
    diamond = [(2.0, 0.0), (0.0, 2.0), (-2.0, 0.0), (0.0, -2.0)]
    assert _clip_area(spark, diamond, (0, 2, 0, 2)) == 2.0
    # box [-1,1]^2 lies entirely inside the diamond (corners sum to
    # exactly 2, on the boundary): intersection is the full box => 4.
    assert _clip_area(spark, diamond, (-1, 1, -1, 1)) == 4.0
    # box [-1.5,1.5]^2 pokes its corners out: 9 minus 4 corner
    # triangles with legs 1 (x+y=2 crosses x=1.5 at y=0.5) => 7.
    # All crossings at half-integer coords: exact float64.
    assert _clip_area(spark, diamond, (-1.5, 1.5, -1.5, 1.5)) == 7.0


def test_clip_halfplane_single_pass(spark):
    from hand_index_spark.operators.clip import clip_halfplane, ring_area2

    tri = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    df = spark.createDataFrame(
        [(tri,)], schema="poly array<struct<x:double,y:double>>"
    )
    # keep x >= 5: triangle (5,0)-(10,0)-(5,5), area 12.5
    a = df.select(
        (ring_area2(clip_halfplane(F.col("poly"), "x", True, F.lit(5.0))) / 2.0
         ).alias("a")
    ).collect()[0].a
    assert a == 12.5


def test_clip_plan_compiles_fast(spark):
    """The r5h bug this file pins down: the chained-expression form of
    the 4-pass clip built a ~3^4-duplicated tree that stalled Catalyst
    for minutes on 500 rows. The fold form must analyze in seconds."""
    import time

    from hand_index_spark.entry_queries import GEO_QUERIES

    t0 = time.time()
    df = GEO_QUERIES["clip_to_tiles"](spark, "/root/testdata/sf0.001")
    df.schema  # forces analysis
    assert time.time() - t0 < 30


# ----------------------------------------------------------------- buffer


def test_buffer_area_mixed_area_identity(spark):
    """The Spark side CONSTRUCTS the dilated hull; assert it equals the
    closed-form Minkowski identity computed here in python on the same
    base rings (independent of the DuckDB oracle)."""
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5H
    from hand_index_spark.queries.geo import _BUF_GROUPS, _BUF_R

    rows = {r.group_id: r for r in GEO5H["buffer_area"](spark, SF).collect()}
    assert len(rows) == _BUF_GROUPS
    for g in range(_BUF_GROUPS):
        m = 3 + g % 4
        pts = [(float(x + m), float(x * x)) for x in range(-m, m + 1)]
        # closed ring in hull order (parabola points are already convex
        # in x-order; close the loop back from last to first)
        area2 = 0.0
        perim_taxi = 0.0
        k = len(pts)
        for i in range(k):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % k]
            area2 += x1 * y2 - x2 * y1
            perim_taxi += abs(x2 - x1) + abs(y2 - y1)
        want = area2 + 2.0 * _BUF_R * perim_taxi + 8.0 * _BUF_R * _BUF_R
        assert rows[g].base_area2 == area2
        assert rows[g].buf_area2 == want


# ------------------------------------------------------------------- DSIR


def test_dsir_weights_sign_sanity(spark):
    """en docs must average a higher importance weight than the corpus
    at large (the target distribution IS the en slice)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5H

    w = TEXT5H["dsir_weights"](spark, SF)
    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang")
        .join(w, "doc_id")
    )
    en = d.filter(F.col("lang") == "en").agg(F.avg("avg_logweight")).collect()[0][0]
    other = d.filter(F.col("lang") != "en").agg(F.avg("avg_logweight")).collect()[0][0]
    assert en > other


# -------------------------------------------------------------------- LPA


def test_label_prop_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5H
    from hand_index_spark.queries.graph import _LPA_FANOUT, _LPA_ITERS

    n = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    out_e = set()
    for src in ids:
        for j in range(1, _LPA_FANOUT + 1):
            dst = (src * 31 + j * 17) % n
            if dst != src:
                out_e.add((src, dst))
    edges = out_e | {(b, a) for a, b in out_e}
    lbl = {v: v for v in ids}
    for _ in range(_LPA_ITERS):
        cnt: dict = {}
        for u, v in edges:
            cnt.setdefault(v, {}).setdefault(lbl[u], 0)
            cnt[v][lbl[u]] += 1
        new = {}
        for v in ids:
            if v in cnt:
                # most frequent, smallest label on ties
                best = min(cnt[v].items(), key=lambda kv: (-kv[1], kv[0]))[0]
                new[v] = best
            else:
                new[v] = lbl[v]
        lbl = new
    rows = TEXT5H["label_prop_communities"](spark, SF).collect()
    assert len(rows) == n
    for r in rows:
        assert r.community == lbl[r.doc_id], r
