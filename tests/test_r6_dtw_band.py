"""Sakoe-Chiba banded DTW (VERDICT r5 item 6): equals the exact fold
inside the band's validity regime, and bounds the computed cell count
so long series stay tractable. The declared dtw_distance query runs
this operator's exact fold; the band is the documented scale path."""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from hand_index_spark.operators.dtw import BIG, dtw_dp_last
from hand_index_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_dtw_band", master="local[8]", shuffle_partitions=8)


def _series_df(spark, n_keys, length, jitter=3):
    """Near-diagonal pairs: b is a +/-jitter perturbation of a, so the
    optimal path hugs the diagonal and any band >= ~jitter is exact."""
    return spark.range(n_keys).select(
        "id",
        F.expr(
            f"transform(sequence(1, {length}),"
            f" i -> CAST((id + 7) * i % 1000 AS BIGINT))"
        ).alias("a"),
        F.expr(
            f"transform(sequence(1, {length}),"
            f" i -> CAST((id + 7) * i % 1000 + (i % {2 * jitter + 1})"
            f" - {jitter} AS BIGINT))"
        ).alias("b"),
    )


def _dtw_py(a, b, band=None):
    n, m = len(a), len(b)
    big = 10**15
    prev = [0] + [big] * m
    for i in range(1, n + 1):
        cur = [big] * (m + 1)
        if band is None:
            lo, hi = 1, m
        else:
            c = round(i * m / n)
            lo, hi = max(1, c - band), min(m, c + band)
        for j in range(lo, hi + 1):
            cur[j] = abs(a[i - 1] - b[j - 1]) + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return prev[m]


def test_banded_equals_exact_in_regime(spark):
    df = _series_df(spark, 50, 40, jitter=2)
    out = df.select(
        "id",
        dtw_dp_last("a", "b").alias("exact"),
        dtw_dp_last("a", "b", band=6).alias("banded"),
        dtw_dp_last("a", "b", band=40).alias("full_band"),
    ).toPandas()
    # full-covering band is ALWAYS the exact fold
    assert (out["full_band"] == out["exact"]).all()
    # near-diagonal series: a small band already reproduces the optimum
    assert (out["banded"] == out["exact"]).all()


def test_banded_matches_python_reference(spark):
    rows = (
        _series_df(spark, 8, 25, jitter=4)
        .select("id", "a", "b", dtw_dp_last("a", "b", band=5).alias("banded"))
        .collect()
    )
    for r in rows:
        assert r["banded"] == _dtw_py(r["a"], r["b"], band=5), r["id"]


def test_band_bounds_cell_count_at_300(spark):
    """>=300-length series (the r5 'done' bar): the banded fold touches
    ~n*(2w+1) cells instead of n*m and is measurably faster."""
    df = _series_df(spark, 200, 300, jitter=2).localCheckpoint(eager=True)
    df.count()

    def timed(col):
        t0 = time.perf_counter()
        out = df.select(F.sum(col).alias("s")).collect()[0]["s"]
        return time.perf_counter() - t0, out

    t_exact, s_exact = timed(dtw_dp_last("a", "b"))
    t_band, s_band = timed(dtw_dp_last("a", "b", band=8))
    # validity regime (jitter 2 << band 8): identical results
    assert s_band == s_exact
    # 300*17 vs 300*300 cells per key -> at least a 2x wall win even
    # with per-row overheads (typically ~8-10x; loose bound for CI)
    assert t_band < t_exact / 2, (t_exact, t_band)


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "id INT, a ARRAY<BIGINT>, b ARRAY<BIGINT>",
    )


def test_empty_series(spark):
    """An empty side has no alignment (BIG); two empty series cost 0.
    Neither fold may iterate sequence(1, 0) = [1, 0] over an empty side."""
    pairs = [([], [3, 4]), ([3, 4], []), ([], [])]
    rows = (
        _pairs_df(spark, pairs)
        .select(
            "id",
            dtw_dp_last("a", "b").alias("exact"),
            dtw_dp_last("a", "b", band=1).alias("banded"),
        )
        .orderBy("id")
        .collect()
    )
    assert [(r["exact"], r["banded"]) for r in rows] == [(BIG, BIG), (BIG, BIG), (0, 0)]
    for r, (a, b) in zip(rows, pairs):
        assert r["exact"] == _dtw_py(a, b) and r["banded"] == _dtw_py(a, b, band=1)


def test_band_centre_rounds_half_to_even(spark):
    """n != m with i*m/n landing on .5: the centre rounds half-to-even as
    Python's round() does. n=4, m=2, w=0: row 1's centre 0.5 -> 0, an
    empty corridor (half-up would compute j=1 and give 19). n=4, m=6,
    w=1: row 3's centre 4.5 -> 4 (half-up gives 21)."""
    pairs = [([3, 1, 4, 1], [5, 9], 0), ([1, 7, 0, 6], [6, 9, 0, 7, 4, 3], 1)]
    for a, b, w in pairs:
        got = (
            _pairs_df(spark, [(a, b)])
            .select(dtw_dp_last("a", "b", band=w).alias("d"))
            .first()["d"]
        )
        assert got == _dtw_py(a, b, band=w), (a, b, w)
    assert [_dtw_py(a, b, band=w) for a, b, w in pairs] == [BIG + 8, 19]
