"""Round-5bb operators: URL path-prefix rollup, Theil-Sen robust
slope — python replays plus full oracle parity."""

from __future__ import annotations

import math

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_prefix_rollup_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5BB, TEXTOPS as TEXT5BB

    assert_match(
        TEXT5BB["path_prefix_rollup"](spark, SF),
        ORACLES5BB["path_prefix_rollup"],
        con,
        "path_prefix_rollup",
    )


def test_prefix_rollup_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5BB

    agg: dict = {}
    n_docs = 0
    for doc_id, n_chars in con.sql(
        "SELECT doc_id, n_chars FROM documents"
    ).fetchall():
        n_docs += 1
        host = f"site{doc_id % 97}.example"
        segs = [f"s{doc_id % 7}", f"t{(doc_id * 13) % 11}", f"d{doc_id}"]
        depth = 1 + doc_id % 3
        for k in range(1, depth + 1):
            prefix = "/" + "/".join(segs[:k])
            t = agg.setdefault((host, prefix), [0, 0, 0])
            t[0] = max(t[0], k)
            t[1] += 1
            t[2] += n_chars
    rows = {(r.host, r.prefix): (r.depth, r.n_pages, r.total_chars)
            for r in TEXT5BB["path_prefix_rollup"](spark, SF).collect()}
    assert rows == {k: tuple(v) for k, v in agg.items()}
    # hierarchy identity: depth-1 page counts sum to the corpus size
    assert sum(n for (_, p), (d, n, _) in
               zip(agg.keys(), agg.values()) if d == 1) == n_docs


def test_theil_sen_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5BB, TEXTOPS as TEXT5BB

    assert_match(
        TEXT5BB["theil_sen_slope"](spark, SF),
        ORACLES5BB["theil_sen_slope"],
        con,
        "theil_sen_slope",
    )


def test_theil_sen_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5BB

    daily: dict = {}
    for et, us, v in con.sql(
        "SELECT event_type, epoch_us(ts), value FROM events"
    ).fetchall():
        day = us // 86_400_000_000
        yc = math.floor(v * 100 + 0.5)
        daily[(et, day)] = daily.get((et, day), 0) + yc
    series: dict = {}
    for (et, day), s in daily.items():
        series.setdefault(et, []).append((day, s))
    rows = {r.event_type: r
            for r in TEXT5BB["theil_sen_slope"](spark, SF).collect()}
    assert set(rows) == set(series)
    for et, pts in series.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                di, si = pts[i]
                dj, sj = pts[j]
                slopes.append(((sj - si) / (dj - di), di, dj))
        slopes.sort()
        n = len(slopes)
        med = slopes[(n + 1) // 2 - 1][0]
        r = rows[et]
        assert r.n_pairs == n
        assert r.slope_micro == math.floor(1e6 * med)
