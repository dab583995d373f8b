"""Round-5dd operators: icelite partition-spec evolution, l-diversity
privacy audit — python replays plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_partition_evolution_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5DD, ORACLES as ORACLES5DD

    assert_match(
        GEO5DD["partition_evolution"](spark, SF),
        ORACLES5DD["partition_evolution"],
        con,
        "partition_evolution",
    )


def test_partition_evolution_layout(spark, con):
    """The two snapshots really carry DIFFERENT partition layouts on
    disk (lang=... dirs in v1, source=... dirs in v2), and the table
    read sees every row exactly once across both."""
    import os

    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5DD
    from hand_index_spark.tables.icelite import IceliteTable

    GEO5DD["partition_evolution"](spark, SF).collect()  # (re)build
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "hand_index_spark_q")
    root = next(
        os.path.join(base, d) for d in os.listdir(base)
        if d.startswith("part_evo_")
    )
    t = IceliteTable(root, "docs")
    snaps = t.snapshots()
    assert [s["stage"] for s in snaps][-2:] == ["evo_v1", "evo_v2"]
    paths = snaps[-1]["data_paths"]
    assert len(paths) == 2
    d1 = os.path.join(t.data_dir, paths[0])
    d2 = os.path.join(t.data_dir, paths[1])
    l1 = {x.split("=")[0] for x in os.listdir(d1) if "=" in x}
    l2 = {x.split("=")[0] for x in os.listdir(d2) if "=" in x}
    assert {("lang",), ("source",)} == {tuple(sorted(l1)), tuple(sorted(l2))}
    n = t.read(spark).count()
    assert n == con.sql("SELECT count(*) FROM documents").fetchone()[0]


def test_l_diversity_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5DD, TEXTOPS as TEXT5DD

    assert_match(
        TEXT5DD["l_diversity_audit"](spark, SF),
        ORACLES5DD["l_diversity_audit"],
        con,
        "l_diversity_audit",
    )


def test_l_diversity_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5DD
    from hand_index_spark.entry_queries_r5dd import _L_MIN

    groups: dict = {}
    for lang, source, doc_id in con.sql(
        "SELECT lang, source, doc_id FROM documents"
    ).fetchall():
        g = groups.setdefault((lang, source), [0, set()])
        g[0] += 1
        g[1].add((doc_id * 7919) % 5)
    rows = {(r.lang, r.source): r
            for r in TEXT5DD["l_diversity_audit"](spark, SF).collect()}
    assert set(rows) == set(groups)
    for k, (n, topics) in groups.items():
        r = rows[k]
        assert (r.group_size, r.l_distinct) == (n, len(topics))
        assert r.l_diverse == (len(topics) >= _L_MIN)
        # l cannot exceed group size or the sensitive alphabet
        assert r.l_distinct <= min(n, 5)
