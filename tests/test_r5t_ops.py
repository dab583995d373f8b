"""Round-5t operators: Flesch readability, BPE tokenizer fertility —
python replays plus full oracle parity."""

from __future__ import annotations

import math
import re

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_readability_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5T, TEXTOPS as TEXT5T

    assert_match(
        TEXT5T["readability_scores"](spark, SF),
        ORACLES5T["readability_scores"],
        con,
        "readability_scores",
    )


def test_readability_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5T

    rows = {r.doc_id: r for r in TEXT5T["readability_scores"](spark, SF).collect()}
    for doc_id, text in con.sql(
        "SELECT doc_id, text FROM documents WHERE length(text) >= 1"
    ).fetchall():
        words = len(text.split(" "))
        sentences = text.count(".") + 1
        syllables = len(re.findall(r"[aeiou]+", text))
        r = rows[doc_id]
        assert (r.words, r.sentences, r.syllables) == (
            words, sentences, syllables,
        )
        flesch = (
            206.835 - 1.015 * (words / sentences) - 84.6 * (syllables / words)
        )
        assert r.flesch_micro == math.floor(1e6 * flesch)
    assert len(rows) == con.sql(
        "SELECT count(*) FROM documents WHERE length(text) >= 1"
    ).fetchone()[0]


def test_fertility_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5T, TEXTOPS as TEXT5T

    assert_match(
        TEXT5T["tokenizer_fertility"](spark, SF),
        ORACLES5T["tokenizer_fertility"],
        con,
        "tokenizer_fertility",
    )


def test_fertility_python_replay(spark, con):
    """Replay the merge chain in python: fertility must match exactly
    and sit in (0, 1e6] per lang x (BPE can only shrink the initial
    character tokenization, and tokens >= words is NOT guaranteed —
    but tokens >= 1 per doc is, so the ratio is positive)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5T
    from hand_index_spark.entry_queries_r5b import _BPE_MERGES

    OPEN, CLOSE = "\x1e", "\x1f"
    agg: dict = {}
    for lang, text in con.sql(
        "SELECT lang, text FROM documents WHERE length(text) >= 1"
    ).fetchall():
        s = "".join(OPEN + ch + CLOSE for ch in text)
        for a, b in _BPE_MERGES:
            s = s.replace(OPEN + a + CLOSE + OPEN + b + CLOSE,
                          OPEN + a + b + CLOSE)
        toks = s.count(OPEN)
        t = agg.setdefault(lang, [0, 0, 0])
        t[0] += 1
        t[1] += len(text.split(" "))
        t[2] += toks
    rows = {r.lang: r for r in TEXT5T["tokenizer_fertility"](spark, SF).collect()}
    assert set(rows) == set(agg)
    for lang, (n_docs, words, toks) in agg.items():
        r = rows[lang]
        assert (r.n_docs, r.total_words, r.total_bpe_tokens) == (
            n_docs, words, toks,
        )
        assert r.fertility_ppm == 1000000 * toks // words
        assert r.fertility_ppm > 0
