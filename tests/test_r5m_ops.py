"""Round-5m operators: bitmap-index set algebra, JSONL round-trip,
Pareto skyline — kernel invariants (python set-algebra replay,
byte-exact text survival through JSONL, brute-force dominance replay,
local-pass == global-pass) plus full oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# --------------------------------------------------------------- bitmap


def test_bitmap_index_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5M, TEXTOPS as TEXT5M

    assert_match(
        TEXT5M["bitmap_index_ops"](spark, SF), ORACLES5M["bitmap_index_ops"],
        con, "bitmap_index_ops",
    )


def test_bitmap_index_set_replay(spark, con):
    """The popcount algebra must equal real python set algebra for
    every source pair."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5M

    sets: dict = {}
    for doc_id, src in con.sql("SELECT doc_id, source FROM documents").fetchall():
        sets.setdefault(src, set()).add(doc_id)
    rows = TEXT5M["bitmap_index_ops"](spark, SF).collect()
    srcs = sorted(sets)
    want_pairs = {(a, b) for i, a in enumerate(srcs) for b in srcs[i + 1:]
                  if sets[a] and sets[b]}
    # pairs sharing no words at all would drop out of the word join;
    # with dense doc_ids every pair shares words, so all pairs appear
    assert {(r.src_a, r.src_b) for r in rows} == want_pairs
    for r in rows:
        a, b = sets[r.src_a], sets[r.src_b]
        assert r.card_a == len(a) and r.card_b == len(b)
        assert r.n_intersect == len(a & b)
        assert r.n_union == len(a | b)


# ---------------------------------------------------------------- jsonl


def test_jsonl_roundtrip_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5M, TEXTOPS as TEXT5M

    assert_match(
        TEXT5M["jsonl_roundtrip"](spark, SF), ORACLES5M["jsonl_roundtrip"],
        con, "jsonl_roundtrip",
    )


def test_jsonl_preserves_text_bytes(spark, con):
    """Row-level guarantee behind the checksum: every doc's text comes
    back byte-identical through the JSONL cycle (the brief's
    byte-identical-text-per-url invariant applied to the sink)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5M
    from hand_index_spark.entry_queries_r5m import _JSONL_DIR
    import os

    TEXT5M["jsonl_roundtrip"](spark, SF).collect()  # writes the fixture
    out = os.path.join(_JSONL_DIR, os.path.basename(SF.rstrip("/")))
    back = spark.read.schema("doc_id long, lang string, text string").json(out)
    orig = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text").alias("orig_text")
    )
    diff = (
        back.join(orig, "doc_id")
        .filter(~F.col("text").eqNullSafe(F.col("orig_text")))
        .count()
    )
    assert diff == 0
    assert back.count() == orig.count()


# -------------------------------------------------------------- skyline


def test_skyline_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5M, TEXTOPS as TEXT5M

    assert_match(
        TEXT5M["dominance_skyline"](spark, SF),
        ORACLES5M["dominance_skyline"],
        con,
        "dominance_skyline",
    )


def test_skyline_brute_force_replay(spark, con):
    """Brute-force O(n^2) dominance check over the full corpus: the
    returned set must be exactly the undominated docs."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5M

    pts = {
        doc_id: (nc, nt)
        for doc_id, nc, nt in con.sql(
            "SELECT doc_id, n_chars, len(string_split(text, ' ')) "
            "FROM documents"
        ).fetchall()
    }
    vals = list(pts.values())

    def dominated(p):
        return any(
            q[0] >= p[0] and q[1] >= p[1] and q != p for q in vals
        ) and not any(q == p for q in vals if q is p)  # ties don't dominate

    want = {
        d for d, p in pts.items()
        if not any(
            (q[0] >= p[0] and q[1] >= p[1] and (q[0] > p[0] or q[1] > p[1]))
            for q in vals
        )
    }
    got = {r.doc_id for r in TEXT5M["dominance_skyline"](spark, SF).collect()}
    assert got == want


def test_skyline_local_pass_is_safe(spark):
    """Decomposition safety: the local-skyline pre-pass may only drop
    dominated points, so running the global pass WITHOUT it must give
    the identical result set."""
    from pyspark.sql import Window

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    wg = Window.orderBy(F.desc("n_chars")).rangeBetween(
        Window.unboundedPreceding, -1
    )
    naive = (
        d.withColumn("best_above", F.max("n_tok").over(wg))
        .filter(F.col("best_above").isNull()
                | (F.col("n_tok") > F.col("best_above")))
    )
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5M

    got = {r.doc_id for r in TEXT5M["dominance_skyline"](spark, SF).collect()}
    want = {r.doc_id for r in naive.collect()}
    assert got == want
