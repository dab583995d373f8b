"""Round-5g operators: HITS link analysis, CUSUM change detection,
blocked fuzzy entity resolution, stream-static enrichment join —
kernel invariants (python HITS replay, CUSUM recursion vs closed form,
blocking completeness vs brute force, stream == batch) plus full
oracle parity for each registered query.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ------------------------------------------------------------------- HITS


def test_hits_matches_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5G
    from hand_index_spark.queries.graph import _HITS_FANOUT, _HITS_ITERS

    n = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    edges = set()
    for src in ids:
        for j in range(1, _HITS_FANOUT + 1):
            dst = (src * 31 + j * 17) % n
            if dst != src:
                edges.add((src, dst))
    hub = {v: 1 for v in ids}
    auth = {}
    for _ in range(_HITS_ITERS):
        auth = {v: 0 for v in ids}
        for u, v in edges:
            auth[v] += hub[u]
        hub = {v: 0 for v in ids}
        for u, v in edges:
            hub[u] += auth[v]
    rows = TEXT5G["hits_scores"](spark, SF).collect()
    assert len(rows) == n
    for r in rows:
        assert r.authority == auth[r.doc_id]
        assert r.hub == hub[r.doc_id]


# ------------------------------------------------------------------ CUSUM


def test_cusum_closed_form_equals_recursion(spark, con):
    """The windowed closed form S_i = P_i - min(0, min P_j) must equal
    the textbook per-row recursion S_i = max(0, S_{i-1} + d_i)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5G
    from hand_index_spark.queries.timeseries import _CUSUM_H, _CUSUM_K

    stream = con.sql(
        "SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x "
        "FROM events ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall()
    per_user: dict = {}
    for u, x in stream:
        per_user.setdefault(u, []).append(x)
    expect = {}
    for u, xs in per_user.items():
        s, n_alerts, max_s = 0, 0, -(1 << 62)
        for x in xs:
            s = max(0, s + (x - _CUSUM_K))
            max_s = max(max_s, s)
            if s > _CUSUM_H:
                n_alerts += 1
        expect[u] = (n_alerts, max_s, len(xs))
    rows = TEXT5G["cusum_changepoints"](spark, SF).collect()
    assert len(rows) == len(expect)
    fired = 0
    for r in rows:
        assert (r.n_alerts, r.max_s, r.n_events) == expect[r.user_id]
        fired += r.n_alerts
    assert fired > 0  # the threshold actually trips on the fixture


# ----------------------------------------------------------- fuzzy join


def test_fuzzy_blocking_complete_vs_bruteforce(spark, con):
    """prefix4 UNION suffix4 blocking must surface EVERY pair at
    Levenshtein distance <= 1 (single substitution cannot change both
    ends of a 12-char name) — checked against the n^2 brute force."""
    import hashlib

    from hand_index_spark.entry_queries import TEXTOPS as TEXT5G

    ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    canon = {
        i: hashlib.sha256(str(i).encode()).hexdigest()[:12] for i in ids
    }
    var = {
        i: nm[: i % 12] + "q" + nm[i % 12 + 1 :] for i, nm in canon.items()
    }

    def lev_le1(a: str, b: str) -> bool:
        if len(a) != len(b):
            return False
        return sum(1 for x, y in zip(a, b) if x != y) <= 1

    brute = {
        (vi, ci)
        for vi, vn in var.items()
        for ci, cn in canon.items()
        if lev_le1(vn, cn)
    }
    rows = TEXT5G["fuzzy_name_join"](spark, SF).collect()
    got = {(r.v_id, r.c_id) for r in rows}
    assert got == brute
    # every variant resolves to (at least) its own canonical, dist 1
    assert all((i, i) in got for i in ids)
    assert all(r.lev == 1 for r in rows)


# --------------------------------------------------------- stream enrich


def test_stream_enrich_equals_batch(spark, con):
    from pyspark.sql import functions as F

    from hand_index_spark.entry_queries import TEXTOPS as TEXT5G

    got = {
        (r.day, r.c_mktsegment): (r.n_events, r.sum_value)
        for r in TEXT5G["stream_enrich"](spark, SF).collect()
    }
    e = spark.read.parquet(f"{SF}/events.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    batch = (
        e.join(c, e.user_id == c.c_custkey)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    assert len(batch) == len(got)
    for r in batch:
        assert got[(r.day, r.c_mktsegment)] == (r.n_events, r.sum_value)
