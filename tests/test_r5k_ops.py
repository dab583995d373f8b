"""Round-5k operators: inverted-index postings build, per-language
Merkle corpus root, golden-record survivorship — kernel invariants
(python Merkle replay, single-byte avalanche, posting-head membership,
survivorship election replay) plus full oracle parity."""

from __future__ import annotations

import hashlib

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# --------------------------------------------------------- postings


def test_postings_build_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5K, TEXTOPS as TEXT5K

    assert_match(
        TEXT5K["postings_build"](spark, SF), ORACLES5K["postings_build"],
        con, "postings_build",
    )


def test_postings_head_is_sorted_prefix(spark, con):
    """Every reported head is the ascending prefix of the term's true
    posting list, and df counts distinct docs (replayed in python)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5K
    from hand_index_spark.entry_queries_r5k import _POST_MIN_DF

    truth: dict = {}
    for doc_id, text in con.sql("SELECT doc_id, text FROM documents").fetchall():
        for term in set(t for t in text.split(" ") if len(t) >= 3):
            truth.setdefault(term, set()).add(doc_id)
    rows = TEXT5K["postings_build"](spark, SF).collect()
    want_terms = {t for t, ds in truth.items() if len(ds) >= _POST_MIN_DF}
    assert {r.term for r in rows} == want_terms
    for r in rows:
        ds = sorted(truth[r.term])
        assert r.df == len(ds)
        assert r.postings_head == ",".join(str(x) for x in ds[:5])


# ----------------------------------------------------------- merkle


def _python_merkle(leaves: list[str], rounds: int) -> str:
    level = leaves
    for _ in range(rounds):
        nxt = []
        for i in range(0, len(level), 2):
            if i + 1 < len(level):
                nxt.append(
                    hashlib.sha256(
                        (level[i] + level[i + 1]).encode()
                    ).hexdigest()
                )
            else:
                nxt.append(level[i])
        level = nxt
    assert len(level) == 1
    return level[0]


def test_merkle_root_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5K, TEXTOPS as TEXT5K

    assert_match(
        TEXT5K["merkle_root"](spark, SF), ORACLES5K["merkle_root"], con,
        "merkle_root",
    )


def test_merkle_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5K
    from hand_index_spark.entry_queries_r5k import _MERKLE_ROUNDS

    by_lang: dict = {}
    for lang, text in con.sql(
        "SELECT lang, text FROM documents ORDER BY lang, doc_id"
    ).fetchall():
        by_lang.setdefault(lang, []).append(
            hashlib.sha256(text.encode()).hexdigest()
        )
    rows = {r.lang: r for r in TEXT5K["merkle_root"](spark, SF).collect()}
    assert set(rows) == set(by_lang)
    for lang, leaves in by_lang.items():
        assert rows[lang].n_docs == len(leaves)
        assert rows[lang].merkle_root == _python_merkle(leaves, _MERKLE_ROUNDS)


def test_merkle_avalanche():
    """Integrity property the op exists for: changing one leaf changes
    the root (python kernel check, 64 leaves)."""
    leaves = [hashlib.sha256(str(i).encode()).hexdigest() for i in range(64)]
    root = _python_merkle(leaves, 12)
    for i in (0, 31, 63):
        mutated = list(leaves)
        mutated[i] = hashlib.sha256(b"x").hexdigest()
        assert _python_merkle(mutated, 12) != root


# ----------------------------------------------------- survivorship


def test_survivorship_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5K, TEXTOPS as TEXT5K

    assert_match(
        TEXT5K["survivorship_golden"](spark, SF),
        ORACLES5K["survivorship_golden"],
        con,
        "survivorship_golden",
    )


def test_survivorship_election_replay(spark, con):
    """Golden-lang election: most frequent lang per cluster, smallest
    string on ties; canonical = min id; replayed in python."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5K

    clusters: dict = {}
    for doc_id, lang, n_chars in con.sql(
        "SELECT doc_id, lang, n_chars FROM documents"
    ).fetchall():
        clusters.setdefault(doc_id // 4, []).append((doc_id, lang, n_chars))
    rows = {r.cluster_id: r for r in
            TEXT5K["survivorship_golden"](spark, SF).collect()}
    assert set(rows) == set(clusters)
    for cid, members in clusters.items():
        r = rows[cid]
        assert r.canonical_doc == min(m[0] for m in members)
        assert r.n_members == len(members)
        assert r.max_chars == max(m[2] for m in members)
        cnt: dict = {}
        for _d, lang, _c in members:
            cnt[lang] = cnt.get(lang, 0) + 1
        want = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert r.golden_lang == want
