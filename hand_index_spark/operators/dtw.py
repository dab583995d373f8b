"""Dynamic-time-warping folds as Catalyst expressions.

``dtw_dp_last(a, b)`` is the exact O(n*m) nested fold the declared
``dtw_distance`` query runs (entry_queries_r5x.py): BIGINT |a_i-b_j|
cost, classic three-way recurrence, row-by-row over ``aggregate``.
An empty side costs ``BIG`` (no alignment exists); both empty cost 0.

``dtw_dp_last(a, b, band=w)`` adds the Sakoe-Chiba band the r5 verdict
flagged as the missing scale path: row ``i`` only *computes* cells with
``|j - round(i*m/n)| <= w`` (centre rounded half-to-even, like Python's
``round``); everything outside the band is filled with the unreachable
sentinel via ``array_repeat`` (no per-cell work), so the per-key cost
drops from n*m to ~n*(2w+1) cells. Banded DTW equals the
exact fold whenever the optimal warping path stays inside the band
(guaranteed e.g. when w >= max(n, m) or when series are near-diagonal
alignments); outside that regime it is the standard published
approximation — callers choose the trade. tests/test_r6_dtw_band.py
pins band==exact in the validity regime and the bounded cell count.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BIG = 1_000_000_000_000_000  # unreachable sentinel, overflow-safe


def _big() -> str:
    return f"CAST({BIG} AS BIGINT)"


def _upto(lo: Column, hi: Column) -> Column:
    """[lo, ..., hi], empty when lo > hi (``sequence`` would count down)."""
    return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(F.array_repeat(lo, 0))


def dtw_dp_last(a: Column | str, b: Column | str, band: int | None = None) -> Column:
    """dp[n][m] of the DTW table between BIGINT arrays ``a`` and ``b``
    (the final alignment cost). ``band=None`` is the exact fold;
    ``band=w`` evaluates only the Sakoe-Chiba corridor of half-width
    ``w`` around the scaled diagonal.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    n = F.size(a)
    m = F.size(b)
    row0 = F.concat(
        F.array(F.lit(0).cast("long")),
        F.array_repeat(F.lit(BIG).cast("long"), m),
    )
    if band is None:
        dp = F.aggregate(
            a,
            row0,
            lambda prev, av: F.aggregate(
                _upto(F.lit(1), m),
                F.array(F.lit(BIG).cast("long")),
                lambda newrow, jj: F.concat(
                    newrow,
                    F.array(
                        F.abs(av - F.element_at(b, jj.cast("int")))
                        + F.least(
                            F.element_at(prev, (jj + 1).cast("int")),
                            F.element_at(newrow, F.size(newrow)),
                            F.element_at(prev, jj.cast("int")),
                        )
                    ),
                ),
            ),
        )
        return F.element_at(dp, m + 1)

    w = int(band)
    # per-row banded fold over i = 1..n; lo/hi clamp the corridor
    def step(prev: Column, i: Column) -> Column:
        av = F.element_at(a, i.cast("int"))
        center = F.bround(i * m / n).cast("long")
        lo = F.greatest(F.lit(1).cast("long"), center - F.lit(w))
        hi = F.least(m.cast("long"), center + F.lit(w))
        head = F.array_repeat(F.lit(BIG).cast("long"), lo.cast("int"))
        cells = F.aggregate(
            _upto(lo, hi),
            head,
            lambda newrow, jj: F.concat(
                newrow,
                F.array(
                    F.abs(av - F.element_at(b, jj.cast("int")))
                    + F.least(
                        F.element_at(prev, (jj + 1).cast("int")),
                        F.element_at(newrow, F.size(newrow)),
                        F.element_at(prev, jj.cast("int")),
                    )
                ),
            ),
        )
        tail = F.array_repeat(F.lit(BIG).cast("long"), (m.cast("long") - hi).cast("int"))
        return F.concat(cells, tail)

    dp = F.aggregate(_upto(F.lit(1), n), row0, step)
    return F.element_at(dp, m + 1)
