"""Round-5q operators: declarative data-quality checks, column entropy
profiling — python replays, a seeded-violation test, plus full oracle
parity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ------------------------------------------------------------- contracts


def test_data_quality_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5Q, TEXTOPS as TEXT5Q

    assert_match(
        TEXT5Q["data_quality_checks"](spark, SF),
        ORACLES5Q["data_quality_checks"],
        con,
        "data_quality_checks",
    )


def test_data_quality_clean_fixture_passes(spark):
    """The shipped TPC-H-ish data satisfies all five contracts."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5Q

    rows = TEXT5Q["data_quality_checks"](spark, SF).collect()
    assert len(rows) == 5
    assert all(r.violations == 0 and r.passed == 1 for r in rows), rows


def test_data_quality_detects_seeded_violations(spark, tmp_path):
    """Break every contract in a copy of the tables; each check must
    count the exact number of seeded violations."""
    from hand_index_spark.entry_queries_r5q import _q_data_quality_checks

    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    e = spark.read.parquet(f"{SF}/events.parquet")
    bad_o = o.unionByName(
        o.limit(3)  # 3 duplicate keys
    ).unionByName(
        o.limit(2).withColumn("o_custkey", F.lit(None).cast("long"))
        .withColumn("o_orderkey", F.col("o_orderkey") + 1_000_000)
    ).unionByName(
        o.limit(1).withColumn("o_totalprice", F.lit(-5.0))
        .withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000)
    ).unionByName(
        o.limit(4).withColumn("o_custkey", F.lit(999_999_999))
        .withColumn("o_orderkey", F.col("o_orderkey") + 3_000_000)
    )
    bad_e = e.unionByName(e.limit(6).withColumn("value", F.lit(-1.0)))
    d = str(tmp_path)
    bad_o.write.parquet(f"{d}/orders.parquet")
    c.write.parquet(f"{d}/customer.parquet")
    bad_e.write.parquet(f"{d}/events.parquet")
    got = {r.check_name: r for r in _q_data_quality_checks(spark, d).collect()}
    assert got["unique_key"].violations == 3
    assert got["not_null_custkey"].violations == 2
    assert got["price_range"].violations == 1
    assert got["ref_customer"].violations == 4
    assert got["value_nonnegative"].violations == 6
    assert all(r.passed == 0 for r in got.values())


# -------------------------------------------------------------- entropy


def test_column_entropy_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5Q, TEXTOPS as TEXT5Q

    assert_match(
        TEXT5Q["column_entropy"](spark, SF), ORACLES5Q["column_entropy"],
        con, "column_entropy",
    )


def test_column_entropy_python_replay(spark, con):
    """Replay the quantized-term entropy in python; h_micro must match
    exactly and approximate the true Shannon entropy within the
    quantization error (~1e-6 * n_distinct)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5Q

    rows = {r.col_name: r for r in TEXT5Q["column_entropy"](spark, SF).collect()}
    for col_name, table, col in (
        ("documents.lang", "documents", "lang"),
        ("documents.source", "documents", "source"),
        ("events.event_type", "events", "event_type"),
    ):
        counts = [
            c for (c,) in con.sql(
                f"SELECT count(*) FROM {table} GROUP BY {col}"
            ).fetchall()
        ]
        n = sum(counts)
        s_micro = sum(math.floor(1e6 * c * math.log2(c)) for c in counts)
        num = max(math.floor(1e6 * math.log2(n)) * n - s_micro, 0)
        r = rows[col_name]
        assert (r.n, r.n_distinct, r.s_micro) == (n, len(counts), s_micro)
        assert r.h_micro == num // n
        true_h = -sum((c / n) * math.log2(c / n) for c in counts)
        assert abs(r.h_micro / 1e6 - true_h) < 1e-6 * (len(counts) + 2)
        # bounds: 0 <= H <= log2(n_distinct)
        assert 0 <= r.h_micro <= 1e6 * math.log2(max(len(counts), 2))
