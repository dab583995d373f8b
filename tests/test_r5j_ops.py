"""Round-5j operators: per-language token budgeting, Newman modularity
of the LPA partition, great-circle slerp waypoints — kernel invariants
(greedy-maximal budget fill, python modularity replay, on-great-circle
geometry checks) plus full oracle parity for each registered query.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import math

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ------------------------------------------------------- token budgeting


def test_token_budget_greedy_maximal(spark, con):
    """Per language: the kept set respects the 30% cap AND is maximal
    under the longest-first order (adding the next-ranked doc would
    break the cap)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5J
    from hand_index_spark.queries.text import _BUDGET_PCT10

    rows = {r.lang: r for r in TEXT5J["token_budget_mix"](spark, SF).collect()}
    series: dict = {}
    for lang, n in con.sql(
        "SELECT lang, len(string_split(text, ' ')) FROM documents "
        "ORDER BY lang, len(string_split(text, ' ')) DESC, doc_id"
    ).fetchall():
        series.setdefault(lang, []).append(n)
    assert set(rows) == set(series)
    for lang, toks in series.items():
        tot = sum(toks)
        r = rows[lang]
        assert r.total_tokens == tot and r.n_docs == len(toks)
        assert r.kept_tokens * 10 <= tot * _BUDGET_PCT10
        kept = r.n_kept
        assert sum(toks[:kept]) == r.kept_tokens
        if kept < len(toks):  # maximality
            assert (r.kept_tokens + toks[kept]) * 10 > tot * _BUDGET_PCT10
        assert r.share_micro == 1000000 * r.kept_tokens // tot


# ----------------------------------------------------------- modularity


def test_modularity_python_replay(spark, con):
    """Replay LPA + modularity entirely in python; all integer pieces
    must match, and Q must land in [-1/2, 1]."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5J
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
        lbl = {
            v: (
                min(cnt[v].items(), key=lambda kv: (-kv[1], kv[0]))[0]
                if v in cnt
                else lbl[v]
            )
            for v in ids
        }
    two_m = len(edges)
    within = sum(1 for u, v in edges if lbl[u] == lbl[v])
    deg: dict = {}
    for u, _v in edges:
        deg[u] = deg.get(u, 0) + 1
    dsum: dict = {}
    for v, d in deg.items():
        dsum[lbl[v]] = dsum.get(lbl[v], 0) + d
    sum_deg2 = sum(d * d for d in dsum.values())
    row = TEXT5J["modularity_score"](spark, SF).collect()[0]
    assert row.two_m == two_m
    assert row.within_edges == within
    assert row.sum_deg2 == sum_deg2
    assert row.n_communities == len(dsum)
    assert row.q_num == within * two_m - sum_deg2
    assert row.q_den == two_m * two_m
    q = row.q_num / row.q_den
    assert -0.5 <= q <= 1.0
    assert row.q_micro == math.floor(1e6 * (within * two_m - sum_deg2) / (two_m * two_m))


def test_modularity_row_no_int32_overflow(spark):
    """At two_m = 46341 the int32 product two_m^2 wraps; the long
    operands must give the exact integers and the oracle's dtypes."""
    from hand_index_spark.queries.graph import _modularity_row

    two_m, within, sum_deg2 = 46341, 46000, 123456789
    sums = spark.createDataFrame(
        [(7, sum_deg2)], "n_communities long, sum_deg2 long"
    )
    out = _modularity_row(sums, within, two_m)
    assert dict(out.dtypes) == {
        "two_m": "bigint", "within_edges": "bigint", "n_communities": "bigint",
        "sum_deg2": "bigint", "q_num": "bigint", "q_den": "bigint",
        "q_micro": "bigint",
    }
    row = out.collect()[0]
    assert row.q_den == two_m * two_m == 2147488281
    assert row.q_num == within * two_m - sum_deg2
    assert row.q_micro == math.floor(
        1e6 * float(within * two_m - sum_deg2) / float(two_m * two_m)
    )


# ------------------------------------------------------------ waypoints


def _route_endpoints(route_id: int):
    lat1 = float(-50 + (route_id * 37) % 100)
    lon1 = float(-170 + (route_id * 73) % 340)
    lat2 = float(-48 + (route_id * 91) % 97)
    lon2 = float(-165 + (route_id * 139) % 331)
    return lat1, lon1, lat2, lon2


def _unit(lat, lon):
    p, q = math.radians(lat), math.radians(lon)
    return (
        math.cos(p) * math.cos(q),
        math.cos(p) * math.sin(q),
        math.sin(p),
    )


def test_gc_routes_non_degenerate():
    """Fixture guarantee: no route is zero-length or antipodal (slerp
    would divide by sin(0) or sin(pi))."""
    from hand_index_spark.queries.geo import _GC_ROUTES

    for rid in range(_GC_ROUTES):
        lat1, lon1, lat2, lon2 = _route_endpoints(rid)
        a, b = _unit(lat1, lon1), _unit(lat2, lon2)
        dot = sum(x * y for x, y in zip(a, b))
        assert -0.999 < dot < 0.999, (rid, dot)


def test_gc_waypoints_on_great_circle(spark):
    """Geometry: every waypoint is coplanar with the endpoints and the
    sphere center (|triple product| ~ 0) and the t=2 waypoint bisects
    the central angle."""
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5J

    rows = GEO5J["gc_waypoints"](spark, SF).collect()
    assert len(rows) == 24 * 3
    for r in rows:
        lat1, lon1, lat2, lon2 = _route_endpoints(r.route_id)
        a, b = _unit(lat1, lon1), _unit(lat2, lon2)
        w = _unit(r.lat_u / 1e6, r.lon_u / 1e6)
        nx = a[1] * b[2] - a[2] * b[1]
        ny = a[2] * b[0] - a[0] * b[2]
        nz = a[0] * b[1] - a[1] * b[0]
        triple = nx * w[0] + ny * w[1] + nz * w[2]
        assert abs(triple) < 1e-5, (r, triple)
        if r.t == 2:  # midpoint bisects the angle
            da = math.acos(max(-1.0, min(1.0, sum(x * y for x, y in zip(a, w)))))
            db = math.acos(max(-1.0, min(1.0, sum(x * y for x, y in zip(b, w)))))
            assert abs(da - db) < 1e-5, (r, da, db)
