"""Round-5p operators: model-evaluation family — langid confusion
matrix, bbox IoU report, calibration bins — python replays, metric
identities, plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ------------------------------------------------------------ confusion


def test_langid_confusion_identities(spark, con):
    """Supports sum to the corpus size; tp <= min(support, pred_count);
    recall_ppm is exactly 1e6*tp//support; the matrix agrees with a
    python replay of the voting rule."""
    from hand_index_spark.queries.text import _EN, _ES
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5P

    truth: dict = {}
    for lang, text in con.sql("SELECT lang, text FROM documents").fetchall():
        toks = text.split(" ")
        n_en = sum(1 for t in toks if t in _EN)
        n_es = sum(1 for t in toks if t in _ES)
        pred = "en" if n_en >= n_es else "es"
        t = truth.setdefault(lang, [0, 0, 0])  # support, tp, _
        t[0] += 1
        if pred == lang:
            t[1] += 1
    pred_counts: dict = {}
    for lang, text in con.sql("SELECT lang, text FROM documents").fetchall():
        toks = text.split(" ")
        n_en = sum(1 for t in toks if t in _EN)
        n_es = sum(1 for t in toks if t in _ES)
        p = "en" if n_en >= n_es else "es"
        pred_counts[p] = pred_counts.get(p, 0) + 1
    rows = {r.lang: r for r in TEXT5P["langid_confusion"](spark, SF).collect()}
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert sum(r.support for r in rows.values()) == n_docs
    for lang, r in rows.items():
        support, tp, _ = truth[lang]
        assert (r.support, r.tp) == (support, tp)
        assert r.pred_count == pred_counts.get(lang, 0)
        assert r.recall_ppm == 1000000 * tp // support
        if r.pred_count:
            assert r.precision_ppm == 1000000 * tp // r.pred_count
        assert r.tp <= min(r.support, r.pred_count or 0) or r.pred_count == 0


# ------------------------------------------------------------------ IoU


def test_iou_eval_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5P

    n = h50 = h75 = sum_iou = 0
    for (doc_id,) in con.sql("SELECT doc_id FROM documents").fetchall():
        x1, y1 = (doc_id * 73) % 1000, (doc_id * 131) % 1000
        w, h = 8 + (doc_id % 5) * 23, 8 + ((doc_id * 7) % 5) * 23
        dx, dy = (doc_id * 13) % 9 - 4, (doc_id * 29) % 9 - 4
        iw = max(min(x1 + w, x1 + dx + w) - max(x1, x1 + dx), 0)
        ih = max(min(y1 + h, y1 + dy + h) - max(y1, y1 + dy), 0)
        inter = iw * ih
        uni = 2 * w * h - inter
        n += 1
        if 2 * inter >= uni:
            h50 += 1
        if 4 * inter >= 3 * uni:
            h75 += 1
        sum_iou += 1000000 * inter // uni
    row = GEO5P["iou_eval"](spark, SF).collect()[0]
    assert (row.n_boxes, row.hits_at_50, row.hits_at_75) == (n, h50, h75)
    assert row.sum_iou_micro == sum_iou
    assert row.mean_iou_micro == sum_iou // n
    # jitter <= 4 px on >= 8 px boxes: every pair overlaps
    assert row.hits_at_50 > 0 and row.n_boxes > row.hits_at_75


# ---------------------------------------------------------- calibration


def test_calibration_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5P, TEXTOPS as TEXT5P

    assert_match(
        TEXT5P["calibration_bins"](spark, SF),
        ORACLES5P["calibration_bins"],
        con,
        "calibration_bins",
    )


def test_calibration_tracks_scores(spark):
    """The synthetic model is calibrated by construction: observed
    positive rate must increase with the bin and sit within 15 points
    of the bin's mean score (loose — 500 docs/10 bins is noisy)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5P
    from hand_index_spark.queries.stats import _CAL_BINS

    rows = sorted(
        TEXT5P["calibration_bins"](spark, SF).collect(), key=lambda r: r.bin
    )
    assert len(rows) == _CAL_BINS
    assert rows[0].observed_ppm < rows[-1].observed_ppm
    for r in rows:
        assert abs(r.observed_ppm - r.mean_score_micro) < 150_000
