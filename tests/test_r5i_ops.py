"""Round-5i operators: concat-and-chunk sequence packing (two-phase
distributed prefix sum), per-user lagged autocorrelation, fan
triangulation — kernel invariants (two-phase scan == naive global
window, python Pearson replay, fan-sum == shoelace identity) plus full
oracle parity for each registered query."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ----------------------------------------------------------- pack_chunks


def test_pack_chunks_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5I, TEXTOPS as TEXT5I

    assert_match(
        TEXT5I["pack_chunks"](spark, SF), ORACLES5I["pack_chunks"], con,
        "pack_chunks",
    )


def test_pack_chunks_conservation(spark):
    """Token conservation + shape: every chunk but the last is exactly
    full, chunk ids are dense from 0, and the total packed token count
    equals the corpus token count."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5I
    from hand_index_spark.entry_queries_r5i import _PACK_C

    rows = sorted(
        TEXT5I["pack_chunks"](spark, SF).collect(), key=lambda r: r.chunk_id
    )
    total = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.sum(F.size(F.split("text", " "))).alias("s"))
        .collect()[0]
        .s
    )
    assert [r.chunk_id for r in rows] == list(range(len(rows)))
    assert sum(r.n_tokens for r in rows) == total
    for r in rows[:-1]:
        assert r.n_tokens == _PACK_C
        # a chunk's spanning docs continue into the NEXT chunk: every
        # non-final chunk has at most one (the doc cut at its boundary)
        assert r.n_spanning <= 1
    assert rows[-1].n_tokens == total - _PACK_C * (len(rows) - 1)
    assert rows[-1].n_spanning == 0


def test_pack_chunks_two_phase_scan_matches_global_window(spark):
    """The distributed two-phase offsets must equal the naive
    single-partition global-window cumsum, doc for doc."""
    from hand_index_spark.entry_queries_r5i import _PACK_SPAN

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    )
    w_naive = (
        Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = d.withColumn("off", F.sum("n_tok").over(w_naive) - F.col("n_tok"))
    d2 = d.withColumn("bucket", F.expr(f"doc_id div {_PACK_SPAN}"))
    w_intra = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d2 = d2.withColumn("intra", F.sum("n_tok").over(w_intra))
    totals = d2.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = totals.withColumn(
        "bucket_off", F.sum("btot").over(w_b) - F.col("btot")
    ).select("bucket", "bucket_off")
    two_phase = d2.join(F.broadcast(offs), "bucket").select(
        "doc_id",
        (F.col("bucket_off") + F.col("intra") - F.col("n_tok")).alias("off"),
    )
    a = {r.doc_id: r.off for r in naive.select("doc_id", "off").collect()}
    b = {r.doc_id: r.off for r in two_phase.collect()}
    assert a == b


# -------------------------------------------------------------- acf_lags


def test_acf_lags_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5I, TEXTOPS as TEXT5I

    assert_match(
        TEXT5I["acf_lags"](spark, SF), ORACLES5I["acf_lags"], con, "acf_lags"
    )


def test_acf_lags_python_replay(spark, con):
    """Pearson r at each lag, replayed in python over the exact same
    quantized series, matching to the registered 4dp rounding."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5I
    from hand_index_spark.entry_queries_r5i import _ACF_LAGS

    series: dict = {}
    for uid, x in con.sql(
        "SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) "
        "FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        series.setdefault(uid, []).append(x)
    want = {}
    for uid, xs in series.items():
        for k in _ACF_LAGS:
            pairs = [(xs[i], xs[i + k]) for i in range(len(xs) - k)]
            if not pairs:
                continue
            n = len(pairs)
            sx = sum(p[0] for p in pairs)
            sy = sum(p[1] for p in pairs)
            sxy = sum(p[0] * p[1] for p in pairs)
            sxx = sum(p[0] * p[0] for p in pairs)
            syy = sum(p[1] * p[1] for p in pairs)
            vx, vy = n * sxx - sx * sx, n * syy - sy * sy
            r = (
                round((n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy)), 4)
                if vx > 0 and vy > 0
                else None
            )
            want[(uid, k)] = (n, r)
    rows = TEXT5I["acf_lags"](spark, SF).collect()
    assert len(rows) == len(want)
    for row in rows:
        n, r = want[(row.user_id, row.lag)]
        assert row.n_pairs == n
        assert row.r == r, (row, r)


def test_acf_constant_series_is_null(spark):
    """Zero-variance series must yield NULL r, not a crash or 0/0."""
    from hand_index_spark.entry_queries_r5i import _q_acf_lags

    # monkey-fixture: a one-user constant series through a temp view is
    # overkill — instead check the registered query emits no non-null r
    # for any pair set with zero variance by direct construction
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1] * 5,
                "ts": pd.to_datetime(["2024-01-01"] * 5)
                + pd.to_timedelta(range(5), "s"),
                "event_id": range(5),
                "value": [7.0] * 5,
            }
        )
    )
    import tempfile

    p = tempfile.mkdtemp(prefix="acf_const_")
    df.write.mode("overwrite").parquet(f"{p}/events.parquet")
    out = _q_acf_lags(spark, p).collect()
    assert len(out) == 3  # lags 1..3 for the single user
    assert all(r.r is None for r in out)


# ------------------------------------------------------ triangulate_mesh


def test_triangulate_mesh_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5I, ORACLES as ORACLES5I

    assert_match(
        GEO5I["triangulate_mesh"](spark, SF), ORACLES5I["triangulate_mesh"],
        con, "triangulate_mesh",
    )


def test_triangulate_fan_sum_equals_shoelace(spark):
    """Mesh validity: per group, the fan triangle areas are all
    positive (convex CCW ring) and sum exactly to the ring's shoelace
    area2 computed independently in python."""
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5I
    from hand_index_spark.entry_queries_r5i import _TRI_GROUPS

    rows = GEO5I["triangulate_mesh"](spark, SF).collect()
    by_g: dict = {}
    for r in rows:
        assert r.area2 > 0
        by_g.setdefault(r.group_id, 0.0)
        by_g[r.group_id] += r.area2
    assert len(by_g) == _TRI_GROUPS
    for g in range(_TRI_GROUPS):
        m = 3 + g % 4
        ring = [(float(i), float((i - m) ** 2)) for i in range(2 * m + 1)]
        shoelace = 0.0
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            shoelace += x1 * y2 - x2 * y1
        assert by_g[g] == shoelace
        # triangle count: n-2 for an n-vertex ring
        assert sum(1 for r in rows if r.group_id == g) == 2 * m - 1
