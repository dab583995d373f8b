"""Round-5mm operators: degree power-law fit, group-mode imputation
— python replays plus full oracle parity."""

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


def test_powerlaw_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5MM, TEXTOPS as TEXT5MM

    assert_match(
        TEXT5MM["degree_powerlaw"](spark, SF),
        ORACLES5MM["degree_powerlaw"],
        con,
        "degree_powerlaw",
    )


def test_powerlaw_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5MM

    n = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    edges = set()
    for (src,) in con.sql("SELECT doc_id FROM documents").fetchall():
        for j in range(1, src % 13 + 2):
            dst = (src * 31 + j * 17) % n
            if dst != src:
                edges.add((src, dst))
    deg: dict = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    hist: dict = {}
    for v in deg.values():
        hist[v] = hist.get(v, 0) + 1
    sx = sy = sxx = sxy = 0.0
    for d in sorted(hist):
        lx, ly = math.log(float(d)), math.log(float(hist[d]))
        sx += lx
        sy += ly
        sxx += lx * lx
        sxy += lx * ly
    k = len(hist)
    r = TEXT5MM["degree_powerlaw"](spark, SF).collect()[0]
    assert r.k == k
    assert abs(r.sum_ln_deg - round(sx, 6)) < 1e-9
    assert abs(r.sum_ln_cnt - round(sy, 6)) < 1e-9
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert r.slope_micro == math.floor(1e6 * slope)


def test_impute_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5MM, TEXTOPS as TEXT5MM

    assert_match(
        TEXT5MM["mode_impute"](spark, SF),
        ORACLES5MM["mode_impute"],
        con,
        "mode_impute",
    )


def test_impute_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5MM

    docs = con.sql("SELECT doc_id, lang, source FROM documents").fetchall()
    counts: dict = {}
    for d, lang, src in docs:
        if d % 11 == 0:
            continue
        counts[(src, lang)] = counts.get((src, lang), 0) + 1
    modes: dict = {}
    for (src, lang), c in counts.items():
        cur = modes.get(src)
        if cur is None or (-c, lang) < (-cur[1], cur[0]):
            modes[src] = (lang, c)
    agg: dict = {}
    for d, lang, src in docs:
        masked = d % 11 == 0
        fix = modes[src][0] if masked else lang
        t = agg.setdefault(src, [0, 0, set()])
        t[0] += 1
        t[1] += 1 if masked else 0
        t[2].add(fix)
    rows = {r.source: r for r in TEXT5MM["mode_impute"](spark, SF).collect()}
    assert set(rows) == set(agg)
    for src, (n_docs, n_imp, langs) in agg.items():
        r = rows[src]
        assert r.mode_lang == modes[src][0]
        assert (r.n_docs, r.n_imputed, r.langs_after) == (
            n_docs, n_imp, len(langs),
        )
        # repair completeness: no nulls remain, and imputation never
        # introduces a lang absent from the observed group
        assert r.mode_lang in langs
