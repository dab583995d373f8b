"""Round-5v operators: gaps-and-islands longest streak, chi-square
independence grid — python replays plus full oracle parity."""

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


def test_longest_streak_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5V, TEXTOPS as TEXT5V

    assert_match(
        TEXT5V["longest_streak"](spark, SF),
        ORACLES5V["longest_streak"],
        con,
        "longest_streak",
    )


def test_longest_streak_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5V

    by_user: dict = {}
    for u, us in con.sql("SELECT user_id, epoch_us(ts) FROM events").fetchall():
        by_user.setdefault(u, set()).add(us // 86_400_000_000)
    rows = {r.user_id: r for r in TEXT5V["longest_streak"](spark, SF).collect()}
    assert set(rows) == set(by_user)
    for u, days in by_user.items():
        ds = sorted(days)
        runs = []  # (length, start)
        start = prev = ds[0]
        for d in ds[1:]:
            if d == prev + 1:
                prev = d
            else:
                runs.append((prev - start + 1, start))
                start = prev = d
        runs.append((prev - start + 1, start))
        best = min(runs, key=lambda t: (-t[0], t[1]))
        r = rows[u]
        assert r.longest_streak == best[0]
        assert r.streak_start_day == best[1]
        assert r.active_days == len(ds)
        # islands partition the active days
        assert sum(l for l, _ in runs) == len(ds)


def test_chisq_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5V, TEXTOPS as TEXT5V

    assert_match(
        TEXT5V["chisq_independence"](spark, SF),
        ORACLES5V["chisq_independence"],
        con,
        "chisq_independence",
    )


def test_chisq_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5V

    obs: dict = {}
    r_tot: dict = {}
    c_tot: dict = {}
    n = 0
    for lang, source in con.sql(
        "SELECT lang, source FROM documents"
    ).fetchall():
        obs[(lang, source)] = obs.get((lang, source), 0) + 1
        r_tot[lang] = r_tot.get(lang, 0) + 1
        c_tot[source] = c_tot.get(source, 0) + 1
        n += 1
    rows = {(r.lang, r.source): r
            for r in TEXT5V["chisq_independence"](spark, SF).collect()}
    # the FULL grid, including structurally-zero cells
    assert set(rows) == {(a, b) for a in r_tot for b in c_tot}
    assert sum(r.obs for r in rows.values()) == n
    for (lang, source), r in rows.items():
        o = obs.get((lang, source), 0)
        rt, ct = r_tot[lang], c_tot[source]
        assert r.obs == o
        assert r.expected_milli == rt * ct * 1000 // n
        dd = float(o * n - rt * ct)
        chi = (dd * dd) / (float(n) * rt * ct)
        assert r.chi_micro == math.floor(1e6 * chi)
        assert r.chi_micro >= 0
