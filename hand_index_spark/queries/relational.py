"""Relational and warehouse queries: SCD2 intervals, proration and FIFO
allocation, star rollups, golden records, customer and inventory
segmentation, market baskets, CIDR routing, data-quality and privacy
audits, skylines and audience arithmetic.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# SCD2 dimension build: compress the per-user event_type observation
# stream into type-2 slowly-changing-dimension intervals
# [valid_from, valid_to) — a new row exactly when the attribute
# CHANGES, the previous row closed at the change instant, the current
# row open (sentinel high date). Two windows (lag to detect changes,
# lead to close intervals), zero joins; cost tracks the stream.

_US = "epoch_us(ts)"  # DuckDB twin of Spark's unix_micros(cast) idiom

# SCD2 open-interval sentinel (the classic "high date" convention)
_SCD2_OPEN = 9_223_372_036_854_775_807


def _q_scd2(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    obs = e.select(
        "user_id", "event_id", F.col("event_type").alias("attr"),
        us.alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    chg = obs.withColumn("prev", F.lag("attr").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("attr"))
    )
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    return chg.select(
        "user_id",
        "attr",
        F.col("us").alias("valid_from_us"),
        F.coalesce(F.lead("us").over(w2), F.lit(_SCD2_OPEN)).alias(
            "valid_to_us"
        ),
    )


_SCD2_SQL = f"""
    WITH obs AS (
      SELECT user_id, event_id, event_type AS attr, {_US} AS us
      FROM events
    ),
    chg AS (
      SELECT *,
             lag(attr) OVER (PARTITION BY user_id
                             ORDER BY us, event_id) AS prev
      FROM obs
    )
    SELECT user_id, attr, us AS valid_from_us,
           COALESCE(lead(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id),
                    {_SCD2_OPEN}) AS valid_to_us
    FROM chg WHERE prev IS NULL OR prev <> attr
    """

register(TEXT, "scd2_intervals", _q_scd2, _SCD2_SQL)


# --------------------------------------------------------------------------
# Exact integer proration (largest-remainder / Hamilton method):
# allocate each order's total cents across its lineitems proportional
# to quantity so the allocations SUM EXACTLY to the total — floor
# shares, then the deficit cents go to the largest fractional
# remainders (linenumber tiebreak). All BIGINT; per-order sum identity
# is pytest-asserted. One keyed shuffle + two windows.


def _q_prorate(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("total_c"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).drop("o_orderkey")
    wq = Window.partitionBy("l_orderkey")
    j = j.withColumn("sq", F.sum("qty").over(wq))
    j = j.withColumn("base", F.expr("(total_c * qty) DIV sq")).withColumn(
        "rem", F.expr("(total_c * qty) % sq")
    )
    j = j.withColumn("deficit", F.col("total_c") - F.sum("base").over(wq))
    # the synthetic lineitem table has duplicate (orderkey, linenumber)
    # pairs, so qty joins the tiebreak; remaining ties are between
    # fully-identical rows, where either rank order yields the same
    # output multiset
    wr = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber"), F.col("qty")
    )
    return j.withColumn("rk", F.row_number().over(wr)).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_cents"),
    )


_PRORATE_SQL = """
    WITH o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
      FROM orders
    ),
    j AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(l.l_quantity AS BIGINT) AS qty, o.total_c
      FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
    ),
    s AS (
      SELECT *,
             sum(qty) OVER (PARTITION BY l_orderkey) AS sq
      FROM j
    ),
    b AS (
      SELECT *,
             (total_c * qty) // sq AS base,
             (total_c * qty) % sq AS rem
      FROM s
    ),
    d AS (
      SELECT *,
             total_c - sum(base) OVER (PARTITION BY l_orderkey) AS deficit,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber, qty) AS rk
      FROM b
    )
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM d
    """

register(TEXT, "prorate_cents", _q_prorate, _PRORATE_SQL)


# --------------------------------------------------------------------------
# ``survivorship_golden``: golden-record consolidation (MDM
# survivorship) downstream of ``fuzzy_name_join``/``dedup_clusters``:
# per duplicate cluster, elect the canonical id (min), the
# most-frequent lang (smallest string on ties — an order-free
# max(struct(cnt, rev)) like the LPA argmax), and field-level
# maxima. Two hash aggregates, no windows, no joins.
#
# survivorship_golden: synthetic duplicate clusters of 4 consecutive
# doc_ids. Per cluster: canonical id = min doc_id, golden lang = the
# most frequent lang with smallest-string tie-break (order-free
# max(struct(cnt, negated-rank)) — realized by max(struct(cnt, rev))
# where rev sorts reversed strings... simpler: min over (-cnt, lang)
# as a struct min), members and field maxima.


def _q_survivorship_golden(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = d.withColumn("cluster_id", F.expr("doc_id div 4"))
    lang_cnt = d.groupBy("cluster_id", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    golden_lang = (
        lang_cnt.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("lang"))
            ).alias("m")
        )
        .select("cluster_id", F.col("m.lang").alias("golden_lang"))
    )
    base = d.groupBy("cluster_id").agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("n_chars").alias("max_chars"),
    )
    return base.join(golden_lang, "cluster_id")


_SURV_SQL = """
    WITH d AS (
      SELECT doc_id, lang, n_chars, doc_id // 4 AS cluster_id
      FROM documents
    ), lc AS (
      SELECT cluster_id, lang, count(*) AS cnt
      FROM d GROUP BY cluster_id, lang
    ), gl AS (
      SELECT cluster_id, lang AS golden_lang FROM lc
      QUALIFY row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY cnt DESC, lang ASC) = 1
    )
    SELECT b.cluster_id, b.canonical_doc, b.n_members, b.max_chars,
           gl.golden_lang
    FROM (
      SELECT cluster_id, min(doc_id) AS canonical_doc,
             CAST(count(*) AS BIGINT) AS n_members,
             max(n_chars) AS max_chars
      FROM d GROUP BY cluster_id
    ) b JOIN gl USING (cluster_id)
    """

register(TEXT, "survivorship_golden", _q_survivorship_golden, _SURV_SQL)


# --------------------------------------------------------------------------
# ``attribution_last_touch``: marketing attribution — each purchase
# attributes its revenue to the user's most recent click within 7
# days, else counts as organic. The carried click is ONE struct
# through a running last(ignorenulls) (the as-of idiom from
# operators/temporal.py — never per-column backfill), one keyed
# window + one aggregate.
#
# attribution_last_touch. The carried click is one struct through
# last(ignorenulls) over the per-user (ts, event_id) order — the
# operators/temporal.py as-of idiom, so the click's ts and id always
# come from the SAME row. 7-day horizon via the unix_micros cast.

_ATTR_HORIZON_US = 7 * 24 * 3600 * 1_000_000


def _q_attribution_last_touch(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    click = F.when(
        F.col("event_type") == "click",
        F.struct(us.alias("cus"), F.col("event_id").alias("cid")),
    )
    carried = e.withColumn("lc", F.last(click, ignorenulls=True).over(w))
    purch = carried.filter(F.col("event_type") == "purchase").withColumn(
        "attributed",
        (
            F.col("lc").isNotNull()
            & (us - F.col("lc.cus") <= F.lit(_ATTR_HORIZON_US))
        ).cast("int"),
    )
    return purch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("attributed").alias("n_attributed"),
        F.sum(F.col("attributed") * F.col("cents")).alias("attributed_cents"),
        F.sum((1 - F.col("attributed")) * F.col("cents")).alias("organic_cents"),
    )


_ATTR_SQL = f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), carried AS (
      SELECT *,
             last(CASE WHEN event_type = 'click'
                       THEN struct_pack(cus := epoch_us(ts),
                                        cid := event_id) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lc
      FROM e
    ), purch AS (
      SELECT *,
             CASE WHEN lc IS NOT NULL
                   AND epoch_us(ts) - lc.cus <= {_ATTR_HORIZON_US}
                  THEN 1 ELSE 0 END AS attributed
      FROM carried WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(attributed) AS BIGINT) AS n_attributed,
           CAST(sum(attributed * cents) AS BIGINT) AS attributed_cents,
           CAST(sum((1 - attributed) * cents) AS BIGINT) AS organic_cents
    FROM purch GROUP BY user_id
    """

register(TEXT, "attribution_last_touch", _q_attribution_last_touch, _ATTR_SQL)


# --------------------------------------------------------------------------
# ``dominance_skyline``: Pareto skyline (maximal vectors) of documents
# on (n_chars, token count) — the classic database operator for
# multi-criteria selection. For 2D the block-nested-loop formulation
# collapses to sort-by-x + running-max-of-y: ONE window pass, no
# self-join (the plan audit forbids any join). Strict dominance,
# ties kept.
#
# dominance_skyline. doc A dominates B iff A.n_chars >= B.n_chars AND
# A.n_tok >= B.n_tok with at least one strict; the skyline keeps the
# undominated docs (ties on both axes are mutually non-dominating and
# all kept). 2D closed form: a row survives iff its n_tok exceeds the
# max n_tok over all rows with STRICTLY greater n_chars (a range
# window frame ending at 1 PRECEDING under a DESC order). SCALE
# SHAPE: a globally-undominated point is undominated in ANY subset,
# so a bucket-partitioned LOCAL skyline pass (parallel, arbitrary
# doc_id%32 buckets) shrinks candidates to the per-bucket frontiers
# before the global pass touches only survivors — the classic
# distributed-skyline decomposition; the corpus never crosses a
# single-partition window. The oracle states the one-pass global
# definition directly, so parity proves the decomposition exact.


def _q_dominance_skyline(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    frame = (Window.unboundedPreceding, -1)
    # pass 1: local skylines in arbitrary buckets (parallel)
    wl = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("n_chars"))
        .rangeBetween(*frame)
    )
    local = (
        d.withColumn("bucket", F.col("doc_id") % 32)
        .withColumn("best_above", F.max("n_tok").over(wl))
        .filter(
            F.col("best_above").isNull()
            | (F.col("n_tok") > F.col("best_above"))
        )
        .drop("bucket", "best_above")
    )
    # pass 2: global skyline over the surviving frontier (small)
    wg = Window.orderBy(F.desc("n_chars")).rangeBetween(*frame)
    s = local.withColumn("best_above", F.max("n_tok").over(wg))
    return s.filter(
        F.col("best_above").isNull() | (F.col("n_tok") > F.col("best_above"))
    ).select("doc_id", "n_chars", "n_tok")


_SKYLINE_SQL = """
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), s AS (
      SELECT *,
             max(n_tok) OVER (ORDER BY n_chars DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS best_above
      FROM d
    )
    SELECT doc_id, n_chars, n_tok FROM s
    WHERE best_above IS NULL OR n_tok > best_above
    """

register(TEXT, "dominance_skyline", _q_dominance_skyline, _SKYLINE_SQL)


# --------------------------------------------------------------------------
# ``k_anonymity_audit``: privacy auditing — group the corpus by a
# quasi-identifier tuple (lang, source, n_chars decade) and report,
# per k in {2, 5, 10}, how many equivalence classes and what fraction
# of rows (in exact ppm) fall below k — the re-identification risk
# report a release pipeline runs before publishing. Two hash
# aggregates; all-integer.

_KS = (2, 5, 10)


def _q_k_anonymity_audit(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 100").alias("chars_decade")
    )
    classes = d.groupBy("lang", "source", "chars_decade").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = classes.agg(
        F.sum("c").alias("n_rows"), F.count(F.lit(1)).alias("n_classes")
    )
    ks = classes.crossJoin(F.broadcast(tot)).select(
        "c", "n_rows", "n_classes",
        # long cast: python int literals infer int32 while the oracle's
        # k column is BIGINT — dtype-strict hash parity
        F.explode(
            F.array(*[F.lit(k) for k in _KS]).cast("array<bigint>")
        ).alias("k"),
    )
    return ks.groupBy("k").agg(
        F.max("n_classes").alias("n_classes"),
        F.sum(F.when(F.col("c") < F.col("k"), 1).otherwise(0))
        .alias("classes_below_k"),
        F.sum(F.when(F.col("c") < F.col("k"), F.col("c")).otherwise(0))
        .alias("rows_at_risk"),
        F.expr(
            "(1000000 * sum(CASE WHEN c < k THEN c ELSE 0 END))"
            " div max(n_rows)"
        ).alias("risk_ppm"),
    )


_KANON_SQL = f"""
    WITH classes AS (
      SELECT lang, source, n_chars // 100 AS chars_decade,
             CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source, n_chars // 100
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes
      FROM classes
    ), ks AS (
      SELECT classes.c, tot.n_rows, tot.n_classes, k
      FROM classes, tot, unnest([{", ".join(str(k) for k in _KS)}]) AS u(k)
    )
    SELECT CAST(k AS BIGINT) AS k,
           max(n_classes) AS n_classes,
           CAST(sum(CASE WHEN c < k THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_k,
           CAST(sum(CASE WHEN c < k THEN c ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(1000000 * sum(CASE WHEN c < k THEN c ELSE 0 END) AS BIGINT)
             // max(n_rows) AS risk_ppm
    FROM ks GROUP BY k
    """

register(TEXT, "k_anonymity_audit", _q_k_anonymity_audit, _KANON_SQL)


# --------------------------------------------------------------------------
# ``data_quality_checks``: declarative data-contract validation (the
# dbt-test / Deequ primitive) — five constraint classes evaluated in
# one pass each and unioned into a violations report: key uniqueness,
# not-null, accepted range, referential integrity (orphan count via a
# null-counting left join — never a collect), and cross-table row
# parity. All counts exact BIGINTs.

_PRICE_MAX = 1_000_000.0


def _q_data_quality_checks(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    e = _t(spark, sf_dir, "events")

    def report(name, table, viol_col):
        return F.struct(
            F.lit(name).alias("check_name"),
            F.lit(table).alias("table_name"),
            viol_col.cast("long").alias("violations"),
        )

    unique_k = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v")
    ).select(report("unique_key", "orders", F.col("v")).alias("r"))
    not_null = o.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("v")
    ).select(report("not_null_custkey", "orders", F.col("v")).alias("r"))
    rng = o.agg(
        F.sum(
            F.when(
                (F.col("o_totalprice") < 0)
                | (F.col("o_totalprice") >= _PRICE_MAX),
                1,
            ).otherwise(0)
        ).alias("v")
    ).select(report("price_range", "orders", F.col("v")).alias("r"))
    # referential integrity ignores NULL keys (the not-null check owns
    # those) — standard FK semantics
    refi = (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .agg(
            F.sum(
                F.when(
                    F.col("o_custkey").isNotNull()
                    & F.col("c_custkey").isNull(),
                    1,
                ).otherwise(0)
            ).alias("v")
        )
        .select(report("ref_customer", "orders", F.col("v")).alias("r"))
    )
    nonneg = e.agg(
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("v")
    ).select(report("value_nonnegative", "events", F.col("v")).alias("r"))
    out = unique_k
    for f in (not_null, rng, refi, nonneg):
        out = out.unionAll(f)
    return out.select(
        F.col("r.check_name").alias("check_name"),
        F.col("r.table_name").alias("table_name"),
        F.col("r.violations").alias("violations"),
        (F.col("r.violations") == 0).cast("int").alias("passed"),
    )


_DQ_SQL = f"""
    SELECT * FROM (
      SELECT 'unique_key' AS check_name, 'orders' AS table_name,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
               AS violations
      FROM orders
      UNION ALL
      SELECT 'not_null_custkey', 'orders',
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'price_range', 'orders',
             CAST(sum(CASE WHEN o_totalprice < 0
                            OR o_totalprice >= {_PRICE_MAX}
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'ref_customer', 'orders',
             CAST(sum(CASE WHEN o.o_custkey IS NOT NULL
                            AND c.c_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'value_nonnegative', 'events',
             CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
    ) t(check_name, table_name, violations)
    SELECT_REPLACED
    """.replace(
    "SELECT_REPLACED", ""
)

# append the passed flag around the union (kept readable above)
_DQ_SQL = f"""
    WITH checks AS ({_DQ_SQL})
    SELECT check_name, table_name, violations,
           CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INT)
             AS passed
    FROM checks
    """

register(TEXT, "data_quality_checks", _q_data_quality_checks, _DQ_SQL)


# --------------------------------------------------------------------------
# ``basket_lift``: association-rule mining (co-occurrence form, the
# complement of ``event_bigram_mining``'s sequential form) — for each
# unordered event-type pair, the users exhibiting both, plus
# support/confidence/lift in exact ppm (lift's denominator cleared to
# keep everything integer: ``lift_ppm = 1e6 * n * n_ab / (n_a*n_b)``
# via BIGINT division). One distinct + one self-join on user (bounded:
# ≤ |event types| rows per user) + one aggregate.
#
# basket_lift. Per-user distinct event types (≤ 5 rows/user), pair via
# a user-keyed self-join with a < b (bounded fan-out), then counts.
# lift_ppm uses integer cross-multiplied division; all counts BIGINT.


def _q_basket_lift(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "event_type")
    items = e.distinct()
    n_users = items.select("user_id").distinct().count()
    singles = items.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    a = items.select("user_id", F.col("event_type").alias("a"))
    b = items.select("user_id", F.col("event_type").alias("b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("a"),
                        F.col("n_single").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("b"),
                        F.col("n_single").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .select(
            "a", "b", "n_both", "n_a", "n_b",
            F.expr(f"(1000000 * n_both) div {n_users}").alias("support_ppm"),
            F.expr("(1000000 * n_both) div n_a").alias("confidence_ppm"),
            F.expr(
                f"(1000000 * CAST({n_users} AS BIGINT) * n_both)"
                " div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


_BASKET_SQL = """
    WITH items AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
              FROM items),
    singles AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_single
      FROM items GROUP BY event_type
    ), pairs AS (
      SELECT x.event_type AS a, y.event_type AS b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM items x JOIN items y USING (user_id)
      WHERE x.event_type < y.event_type
      GROUP BY x.event_type, y.event_type
    )
    SELECT p.a, p.b, p.n_both, sa.n_single AS n_a, sb.n_single AS n_b,
           CAST(1000000 * p.n_both AS BIGINT) // (SELECT n FROM nu)
             AS support_ppm,
           CAST(1000000 * p.n_both AS BIGINT) // sa.n_single
             AS confidence_ppm,
           CAST(1000000 * (SELECT n FROM nu) * p.n_both AS BIGINT)
             // (sa.n_single * sb.n_single) AS lift_ppm
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.a
    JOIN singles sb ON sb.event_type = p.b
    """

register(TEXT, "basket_lift", _q_basket_lift, _BASKET_SQL)


# --------------------------------------------------------------------------
# ``concentration_metrics``: market-concentration report over the
# per-source document shares — Herfindahl-Hirschman index, top-1
# share, and the exact Gini coefficient via the sorted-cumulative
# formula (a window over the handful of source rows, never the
# corpus), all in exact ppm arithmetic.
#
# concentration_metrics. Shares over per-source doc counts (a handful
# of rows). HHI_ppm = 1e6 * sum(c^2) / N^2 (integer division); Gini
# via the sorted formula G = (2*sum(i*c_i) - (k+1)*N) / (k*N) with
# c_i ascending, 1-based i — cleared to ppm integer arithmetic.


def _q_concentration_metrics(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("c", "source")  # tiny frame: one row per source
    ranked = counts.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("c").alias("n_docs"),
        # double casts: DuckDB's sum(BIGINT) promotes to HUGEINT, so the
        # oracle's // quotients materialize as float64 in pandas (VERDICT
        # r5 item 1b bug class); ppm-scale values are exact in a double
        F.expr("(1000000 * sum(c * c)) div (sum(c) * sum(c))")
        .cast("double").alias("hhi_ppm"),
        F.expr("(1000000 * max(c)) div sum(c)").cast("double")
        .alias("top_share_ppm"),
        F.expr(
            "(1000000 * (2 * sum(i * c) - (count(1) + 1) * sum(c)))"
            " div (count(1) * sum(c))"
        ).cast("double").alias("gini_ppm"),
    )


_CONC_SQL = """
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source
    ), ranked AS (
      SELECT c, CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS i
      FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(1000000 * sum(c * c) AS BIGINT) // (sum(c) * sum(c))
             AS hhi_ppm,
           CAST(1000000 * max(c) AS BIGINT) // sum(c) AS top_share_ppm,
           CAST(1000000 * (2 * sum(i * c) - (count(*) + 1) * sum(c))
                AS BIGINT) // (count(*) * sum(c)) AS gini_ppm
    FROM ranked
    """

register(TEXT, "concentration_metrics", _q_concentration_metrics, _CONC_SQL)


# --------------------------------------------------------------------------
# ``path_prefix_rollup``: hierarchical URL-path rollup — page counts
# and byte totals at EVERY path-prefix depth (the "directory tree"
# view a crawl operator reads: which sections of a site dominate?).
# Deterministic multi-segment paths derive from doc_id (the
# web_pages_from_documents idiom, deepened); each page explodes to
# its ≤ 3 prefixes (bounded fan-out, never corpus-squared) and one
# prefix-keyed aggregate rolls up. Pure integers + strings.
#
# path_prefix_rollup. host = site{doc_id % 97}.example; path segments
# s{doc_id % 7} / t{(doc_id * 13) % 11} / d{doc_id}, truncated to
# depth 1 + doc_id % 3. A page contributes one row per prefix depth.


def _q_path_prefix_rollup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("site"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        F.concat(F.lit("s"), (F.col("doc_id") % 7).cast("string"))
        .alias("seg1"),
        F.concat(F.lit("t"), ((F.col("doc_id") * 13) % 11).cast("string"))
        .alias("seg2"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("seg3"),
        (1 + F.col("doc_id") % 3).alias("depth"),
    )
    pref = base.withColumn(
        "k", F.explode(F.sequence(F.lit(1), F.col("depth")))
    ).select(
        "host",
        "n_chars",
        "k",
        F.when(F.col("k") == 1, F.concat(F.lit("/"), F.col("seg1")))
        .when(
            F.col("k") == 2,
            F.concat(F.lit("/"), F.col("seg1"), F.lit("/"), F.col("seg2")),
        )
        .otherwise(
            F.concat(
                F.lit("/"), F.col("seg1"), F.lit("/"), F.col("seg2"),
                F.lit("/"), F.col("seg3"),
            )
        )
        .alias("prefix"),
    )
    return pref.groupBy("host", "prefix").agg(
        F.max("k").cast("long").alias("depth"),
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("n_chars").alias("total_chars"),
    )


_PREFIX_SQL = """
    WITH base AS (
      SELECT doc_id, n_chars,
             'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host,
             's' || CAST(doc_id % 7 AS VARCHAR) AS seg1,
             't' || CAST((doc_id * 13) % 11 AS VARCHAR) AS seg2,
             'd' || CAST(doc_id AS VARCHAR) AS seg3,
             1 + doc_id % 3 AS depth
      FROM documents
    ),
    pref AS (
      SELECT host, n_chars, k,
             CASE WHEN k = 1 THEN '/' || seg1
                  WHEN k = 2 THEN '/' || seg1 || '/' || seg2
                  ELSE '/' || seg1 || '/' || seg2 || '/' || seg3
             END AS prefix
      FROM base, unnest(range(1, depth + 1)) AS u(k)
    )
    SELECT host, prefix,
           CAST(max(k) AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM pref GROUP BY host, prefix
    """

register(TEXT, "path_prefix_rollup", _q_path_prefix_rollup, _PREFIX_SQL)


# --------------------------------------------------------------------------
# ``l_diversity_audit``: the privacy audit that complements
# ``k_anonymity_audit`` — per quasi-identifier group (lang × source),
# distinct-l diversity of a sensitive attribute: a group can be
# k-anonymous yet expose everyone if all its members share one
# sensitive value. Reports group size, distinct sensitive count, and
# the l ≥ 3 pass flag. Pure integer aggregation.
#
# l_diversity_audit. Sensitive attribute = doc_id * 7919 % 5 (a
# deterministic "topic"); QI = (lang, source).

_L_MIN = 3


def _q_l_diversity_audit(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        ((F.col("doc_id") * 7919) % 5).cast("long").alias("topic"),
    )
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct("topic").alias("l_distinct"),
    )
    return g.select(
        "lang",
        "source",
        "group_size",
        "l_distinct",
        (F.col("l_distinct") >= _L_MIN).alias("l_diverse"),
    )


_LDIV_SQL = f"""
    WITH d AS (
      SELECT lang, source,
             CAST((doc_id * 7919) % 5 AS BIGINT) AS topic
      FROM documents
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT topic) AS BIGINT) AS l_distinct,
           count(DISTINCT topic) >= {_L_MIN} AS l_diverse
    FROM d GROUP BY lang, source
    """

register(TEXT, "l_diversity_audit", _q_l_diversity_audit, _LDIV_SQL)


# --------------------------------------------------------------------------
# ``mode_impute``: constraint-based repair — documents whose lang is
# (deterministically) masked get the modal lang of their source
# group (min-tie-break), the classic group-mode imputation every
# cleaning pipeline ships. Output pins per-source imputed counts and
# the chosen mode; pure integer + string aggregation, the mode frame
# broadcast back (never a corpus shuffle join).
#
# mode_impute. Mask: doc_id % 11 == 0 -> lang unknown. Mode per
# source over the UNMASKED rows, min-lang tie-break via min_by on
# (-cnt, lang) encoded lexically: order by cnt desc then lang asc —
# use a rank window on the small (source, lang) count frame instead
# (strings don't pack into one BIGINT).


def _q_mode_impute(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    masked = d.withColumn(
        "lang_obs",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    counts = (
        masked.where(F.col("lang_obs").isNotNull())
        .groupBy("source", "lang_obs")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wm = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("lang_obs")
    )
    modes = (
        counts.withColumn("rk", F.row_number().over(wm))
        .where(F.col("rk") == 1)
        .select("source", F.col("lang_obs").alias("mode_lang"))
    )
    repaired = masked.join(F.broadcast(modes), "source").select(
        "source",
        F.coalesce(F.col("lang_obs"), F.col("mode_lang")).alias("lang_fix"),
        F.col("lang_obs").isNull().alias("was_imputed"),
        "mode_lang",
    )
    return repaired.groupBy("source", "mode_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("was_imputed").cast("long")).alias("n_imputed"),
        F.countDistinct("lang_fix").alias("langs_after"),
    )


_IMPUTE_SQL = """
    WITH masked AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang_obs
      FROM documents
    ),
    counts AS (
      SELECT source, lang_obs, CAST(count(*) AS BIGINT) AS cnt
      FROM masked WHERE lang_obs IS NOT NULL
      GROUP BY source, lang_obs
    ),
    modes AS (
      SELECT source, lang_obs AS mode_lang
      FROM (SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY cnt DESC, lang_obs) AS rk
            FROM counts)
      WHERE rk = 1
    ),
    repaired AS (
      SELECT m.source,
             coalesce(m.lang_obs, d.mode_lang) AS lang_fix,
             m.lang_obs IS NULL AS was_imputed,
             d.mode_lang
      FROM masked m JOIN modes d ON m.source = d.source
    )
    SELECT source, mode_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN was_imputed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           CAST(count(DISTINCT lang_fix) AS BIGINT) AS langs_after
    FROM repaired GROUP BY source, mode_lang
    """

register(TEXT, "mode_impute", _q_mode_impute, _IMPUTE_SQL)


# --------------------------------------------------------------------------
# ``audience_overlap``: exact audience set algebra — |A∩B|, |A∪B|
# and Jaccard ppm for every pair of event types, from ONE user-keyed
# aggregate (per-user type bitmask fold, 5-bit alphabet) exploded to
# the 10 unordered pairs — never a corpus self-join. The
# campaign-planning primitive (how much do the 'view' and 'purchase'
# audiences overlap?).
#
# audience_overlap. Per-user 5-bit membership mask via bit_or over
# type index (alphabetical: click=0, error=1, purchase=2, signup=3,
# view=4), then one pass over the masks counts every pair.

_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_audience_overlap(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    idx = "CASE " + " ".join(
        f"WHEN event_type = '{t}' THEN {i}" for i, t in enumerate(_TYPES)
    ) + " END"
    masks = e.select(
        "user_id", F.expr(f"CAST(pow(2, {idx}) AS BIGINT)").alias("bit")
    ).groupBy("user_id").agg(F.expr("bit_or(bit)").alias("mask"))
    pairs = [
        (i, j) for i in range(len(_TYPES)) for j in range(len(_TYPES))
        if i < j
    ]
    pair_rows = masks.select(
        "mask",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"named_struct('a', '{_TYPES[i]}', 'b', '{_TYPES[j]}',"
                    f" 'ia', {i}, 'jb', {j})"
                    for i, j in pairs
                )
                + ")"
            )
        ).alias("p"),
    ).select(
        F.col("p.a").alias("type_a"),
        F.col("p.b").alias("type_b"),
        F.expr("CASE WHEN (mask div CAST(pow(2, p.ia) AS BIGINT)) % 2 = 1"
               " THEN 1 ELSE 0 END").alias("in_a"),
        F.expr("CASE WHEN (mask div CAST(pow(2, p.jb) AS BIGINT)) % 2 = 1"
               " THEN 1 ELSE 0 END").alias("in_b"),
    )
    agg = pair_rows.groupBy("type_a", "type_b").agg(
        F.sum(F.expr("in_a * in_b")).alias("n_both"),
        F.sum(F.expr("CASE WHEN in_a + in_b >= 1 THEN 1 ELSE 0 END"))
        .alias("n_either"),
    )
    return agg.where(F.col("n_either") > 0).select(
        "type_a",
        "type_b",
        "n_both",
        "n_either",
        F.expr("(1000000 * n_both) div n_either").alias("jaccard_ppm"),
    )


def _overlap_sql() -> str:
    idx = "CASE " + " ".join(
        f"WHEN event_type = '{t}' THEN {i}" for i, t in enumerate(_TYPES)
    ) + " END"
    pairs = [
        (i, j) for i in range(len(_TYPES)) for j in range(len(_TYPES))
        if i < j
    ]
    vals = ", ".join(
        f"('{_TYPES[i]}', '{_TYPES[j]}', {i}, {j})" for i, j in pairs
    )
    return f"""
    WITH masks AS (
      SELECT user_id,
             CAST(bit_or(CAST(pow(2, {idx}) AS BIGINT)) AS BIGINT) AS mask
      FROM events GROUP BY user_id
    ),
    pair_rows AS (
      SELECT p.a AS type_a, p.b AS type_b,
             CASE WHEN (mask // CAST(pow(2, p.ia) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE 0 END AS in_a,
             CASE WHEN (mask // CAST(pow(2, p.jb) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE 0 END AS in_b
      FROM masks, (VALUES {vals}) AS p(a, b, ia, jb)
    ),
    agg AS (
      SELECT type_a, type_b,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
             CAST(sum(CASE WHEN in_a + in_b >= 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_either
      FROM pair_rows GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_both, n_either,
           CAST(1000000 * n_both AS BIGINT) // n_either AS jaccard_ppm
    FROM agg WHERE n_either > 0
    """


register(TEXT, "audience_overlap", _q_audience_overlap, _overlap_sql())


# --------------------------------------------------------------------------
# ``mix_shift``: period-over-period metric decomposition — the
# analytics staple separating "the mix of segments changed" from
# "segments themselves changed": Δ total rate = Σ (w₂−w₁)·r₁ (mix)
# + Σ w₂·(r₂−r₁) (rate), segment = event type, periods = first vs
# second half-month. Counts and sums are exact BIGINTs; each effect
# is ONE shared double tree micro-floored (cross-multiplied BIGINT
# differences first, so the trees agree bit-for-bit); the
# decomposition-sums-to-total identity is pytest-pinned within
# floor tolerance.
#
# mix_shift. Periods by epoch-day parity of half-month: day < 15 of
# the event month -> p1 else p2 (the fixture spans one month).


def _q_mix_shift(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr(
            "CASE WHEN day(CAST(ts AS TIMESTAMP)) < 15 THEN 1 ELSE 2 END"
        ).alias("period"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    seg = base.groupBy("event_type").agg(
        F.sum(F.expr("CASE WHEN period = 1 THEN 1 ELSE 0 END")).alias("n1"),
        F.sum(F.expr("CASE WHEN period = 1 THEN yc ELSE 0 END")).alias("s1"),
        F.sum(F.expr("CASE WHEN period = 2 THEN 1 ELSE 0 END")).alias("n2"),
        F.sum(F.expr("CASE WHEN period = 2 THEN yc ELSE 0 END")).alias("s2"),
    )
    tot = seg.groupBy().agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2")
    )
    j = seg.crossJoin(F.broadcast(tot)).where(
        (F.col("n1") > 0) & (F.col("n2") > 0)
    )
    mix = (
        "CAST(floor(1000000.0 * CAST(n2 * t1 - n1 * t2 AS DOUBLE)"
        " * CAST(s1 AS DOUBLE)"
        " / (CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)"
        " * CAST(n1 AS DOUBLE))) AS BIGINT)"
    )
    rate = (
        "CAST(floor(1000000.0 * CAST(s2 * n1 - s1 * n2 AS DOUBLE)"
        " / (CAST(t2 AS DOUBLE) * CAST(n1 AS DOUBLE))) AS BIGINT)"
    )
    return j.select(
        "event_type",
        "n1",
        "n2",
        "s1",
        "s2",
        F.expr(mix).alias("mix_effect_micro"),
        F.expr(rate).alias("rate_effect_micro"),
    )


_MIX_SQL = """
    WITH base AS (
      SELECT event_type,
             CASE WHEN day(ts) < 15 THEN 1 ELSE 2 END AS period,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    seg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN period = 1 THEN yc ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(sum(CASE WHEN period = 2 THEN yc ELSE 0 END) AS BIGINT)
               AS s2
      FROM base GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2
      FROM seg
    )
    SELECT event_type, n1, n2, s1, s2,
           CAST(floor(1000000.0 * CAST(n2 * t1 - n1 * t2 AS DOUBLE)
                * CAST(s1 AS DOUBLE)
                / (CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)
                * CAST(n1 AS DOUBLE))) AS BIGINT) AS mix_effect_micro,
           CAST(floor(1000000.0 * CAST(s2 * n1 - s1 * n2 AS DOUBLE)
                / (CAST(t2 AS DOUBLE) * CAST(n1 AS DOUBLE))) AS BIGINT)
             AS rate_effect_micro
    FROM seg, tot
    WHERE n1 > 0 AND n2 > 0
    """

register(TEXT, "mix_shift", _q_mix_shift, _MIX_SQL)


# --------------------------------------------------------------------------
# ``star_revenue_rollup``: the canonical warehouse star join —
# revenue per region × nation from lineitem ⋈ orders ⋈ customer ⋈
# nation ⋈ region (TPC-H Q5 shape), discounted revenue in EXACT
# integer micro-cents (cents × discount-ppm products — never float
# multiplication order). The three dimension tables broadcast; only
# the two fact-side joins shuffle.
#
# star_revenue_rollup. revenue_micro = extendedprice_cents *
# (1e4 - discount_bp) with discount basis points floor(d * 1e4 +
# 0.5) — all BIGINT (cents <= 1e7, factor <= 1e4 -> <= 1e11/row,
# summed over 60k rows -> ~1e15, safe).


def _q_star_revenue_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("disc_bp"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr("sum(price_c * (10000 - disc_bp))").alias("revenue_micro"),
    )


_STAR_SQL = """
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(floor(l.l_discount * 10000 + 0.5)
                           AS BIGINT))) AS BIGINT) AS revenue_micro
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """

register(TEXT, "star_revenue_rollup", _q_star_revenue_rollup, _STAR_SQL)


# --------------------------------------------------------------------------
# ``cidr_match``: CIDR longest-prefix matching — the web-log
# enrichment step (which network block does this client IP belong
# to?). Deterministic synthetic IPv4s from the event hash; a
# 16-entry broadcast prefix table with mixed /8../24 lengths;
# containment by pure integer shift arithmetic (ip div 2^(32−len) ==
# net div 2^(32−len)) and LONGEST-prefix wins via the rank window.
# No string parsing, no UDFs.
#
# cidr_match. Blocks: for i in 0..15, prefix length 8 + (i % 3) * 8
# (8, 16, 24) and network = (i * 715827883) % 2^32 masked to the
# prefix. The synthetic IP: (event_id * 2654435761) % 2^32. A /8 of
# net i is deliberately nested inside others so longest-prefix
# matters.

_CIDR_N = 16


def _cidr_rows() -> list[tuple[int, int, int]]:
    rows = []
    for i in range(_CIDR_N):
        plen = 8 + (i % 3) * 8
        raw = (i * 715827883) % (1 << 32)
        shift = 32 - plen
        net = (raw >> shift) << shift
        rows.append((i, net, plen))
    return rows


def _q_cidr_match(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ips = e.select(
        "event_id",
        F.expr("(event_id * 2654435761) % 4294967296").alias("ip"),
    )
    blocks = spark.createDataFrame(
        _cidr_rows(), "block_id long, net long, plen long"
    )
    j = ips.crossJoin(F.broadcast(blocks)).where(
        F.expr("ip div CAST(pow(2, 32 - plen) AS BIGINT)"
               " = net div CAST(pow(2, 32 - plen) AS BIGINT)")
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("plen").desc(), F.col("block_id")
    )
    best = (
        j.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_id", "ip", "block_id", "plen")
    )
    return best.groupBy("block_id", "plen").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ip").alias("min_ip"),
        F.max("ip").alias("max_ip"),
    )


def _cidr_sql() -> str:
    vals = ", ".join(f"({i}, {net}, {plen})"
                     for i, net, plen in _cidr_rows())
    return f"""
    WITH ips AS (
      SELECT event_id, (event_id * 2654435761) % 4294967296 AS ip
      FROM events
    ),
    blocks(block_id, net, plen) AS (VALUES {vals}),
    j AS (
      SELECT i.event_id, i.ip, b.block_id, b.plen
      FROM ips i JOIN blocks b
        ON i.ip // CAST(pow(2, 32 - b.plen) AS BIGINT)
         = b.net // CAST(pow(2, 32 - b.plen) AS BIGINT)
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                  ORDER BY plen DESC, block_id) AS rk
      FROM j
    )
    SELECT CAST(block_id AS BIGINT) AS block_id,
           CAST(plen AS BIGINT) AS plen,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(ip) AS BIGINT) AS min_ip,
           CAST(max(ip) AS BIGINT) AS max_ip
    FROM best WHERE rk = 1
    GROUP BY block_id, plen
    """


register(TEXT, "cidr_match", _q_cidr_match, _cidr_sql())


# --------------------------------------------------------------------------
# ``abc_classification``: Pareto ABC inventory analysis — parts
# ranked by revenue, classified A (first 80% of cumulative revenue),
# B (next 15%), C (tail) with INTEGER cross-multiplied cumulative
# comparisons (cum·100 vs total·80 — never a float share), plus each
# part's exact revenue-share ppm. The classic ops/merchandising
# rollup.
#
# abc_classification. Revenue per part from lineitem in exact cents.


def _q_abc_classification(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
        ).alias("revenue_c")
    )
    wr = Window.orderBy(F.col("revenue_c").desc(), F.col("l_partkey"))
    wt = Window.partitionBy()
    c = rev.select(
        F.col("l_partkey").alias("partkey"),
        "revenue_c",
        F.sum("revenue_c")
        .over(wr.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_c"),
        F.sum("revenue_c").over(wt).alias("total_c"),
        F.row_number().over(wr).cast("long").alias("rank"),
    )
    cls = (
        "CASE WHEN (cum_c - revenue_c) * 100 < total_c * 80 THEN 'A'"
        " WHEN (cum_c - revenue_c) * 100 < total_c * 95 THEN 'B'"
        " ELSE 'C' END"
    )
    return c.select(
        "partkey",
        "revenue_c",
        "rank",
        F.expr("(1000000 * revenue_c) div total_c").alias("share_ppm"),
        F.expr(cls).alias("abc_class"),
    )


_ABC_SQL = """
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS revenue_c
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT partkey, revenue_c,
             CAST(sum(revenue_c) OVER (ORDER BY revenue_c DESC, partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_c,
             CAST(sum(revenue_c) OVER () AS BIGINT) AS total_c,
             CAST(row_number() OVER (ORDER BY revenue_c DESC, partkey)
                  AS BIGINT) AS rank
      FROM rev
    )
    SELECT partkey, revenue_c, rank,
           CAST(1000000 * revenue_c AS BIGINT) // total_c AS share_ppm,
           CASE WHEN (cum_c - revenue_c) * 100 < total_c * 80 THEN 'A'
                WHEN (cum_c - revenue_c) * 100 < total_c * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """

register(TEXT, "abc_classification", _q_abc_classification, _ABC_SQL)


# --------------------------------------------------------------------------
# ``new_vs_returning``: the classic daily audience split — per day,
# how many active users are brand new vs returning, plus the
# running cumulative-known-users curve. First-seen day per user via
# one aggregate, daily split via integer comparisons, cumulative
# curve via an ordered window over the ~30 day rows.
#
# new_vs_returning.

_DAY_US = 86_400_000_000


def _q_new_vs_returning(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
        .alias("day"),
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = ud.join(F.broadcast(first), "user_id")
    daily = j.groupBy("day").agg(
        F.sum(F.expr("CASE WHEN day = first_day THEN 1 ELSE 0 END"))
        .alias("new_users"),
        F.sum(F.expr("CASE WHEN day > first_day THEN 1 ELSE 0 END"))
        .alias("returning_users"),
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        "returning_users",
        F.sum("new_users").over(wc).alias("known_users_cum"),
    )


_NVR_SQL = f"""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM events
    ),
    first AS (
      SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
    ),
    daily AS (
      SELECT ud.day,
             CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users,
             CAST(sum(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS returning_users
      FROM ud JOIN first f ON ud.user_id = f.user_id
      GROUP BY ud.day
    )
    SELECT CAST(day AS BIGINT) AS day, new_users, returning_users,
           CAST(sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS known_users_cum
    FROM daily
    """

register(TEXT, "new_vs_returning", _q_new_vs_returning, _NVR_SQL)


# --------------------------------------------------------------------------
# ``rfm_segments``: classic RFM customer segmentation over orders —
# recency days / order frequency / monetary cents, all exact
# integers, quintile scores via ntile(5) with a deterministic
# (metric, custkey) tie-break, and the champion/new/at-risk/lost/
# regular segment grid.
#
# rfm_segments. One groupBy(custkey) over orders, then three
# customer-count-sized ntile windows (quintiles need a global rank by
# definition; at 100 TB the drop-in replacement is ntile over
# approx-quantile bucket boundaries — the exact global sort here is
# the small-dim path, like ntile_buckets). Deterministic tie-breaks
# by custkey on every window. All outputs exact integers/strings.


_SEGMENT_CASE = """
    CASE
      WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
      WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
      WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      WHEN r_score <= 2 AND f_score <= 2 THEN 'lost'
      ELSE 'regular'
    END
"""


def _q_rfm_segments(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    day = F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}")
    per = o.select(
        "o_custkey",
        day.alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).groupBy("o_custkey").agg(
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("cents").alias("monetary_cents"),
    )
    hz = per.groupBy().agg(F.max("last_day").alias("horizon"))
    base = per.crossJoin(F.broadcast(hz)).select(
        F.col("o_custkey").alias("custkey"),
        (F.col("horizon") - F.col("last_day")).alias("recency_days"),
        "freq",
        "monetary_cents",
    )
    w_r = Window.orderBy(F.col("recency_days").asc(), F.col("custkey").asc())
    w_f = Window.orderBy(F.col("freq").asc(), F.col("custkey").asc())
    w_m = Window.orderBy(
        F.col("monetary_cents").asc(), F.col("custkey").asc()
    )
    scored = base.select(
        "custkey",
        "recency_days",
        "freq",
        "monetary_cents",
        (F.lit(6) - F.ntile(5).over(w_r)).cast("long").alias("r_score"),
        F.ntile(5).over(w_f).cast("long").alias("f_score"),
        F.ntile(5).over(w_m).cast("long").alias("m_score"),
    )
    return scored.select(
        "custkey",
        "recency_days",
        "freq",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.expr(_SEGMENT_CASE).alias("segment"),
    )


_RFM_SQL = f"""
    WITH per AS (
      SELECT o_custkey AS custkey,
             max(epoch_us(o_orderdate) // {_DAY_US}) AS last_day,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    hz AS (SELECT max(last_day) AS horizon FROM per),
    base AS (
      SELECT p.custkey,
             CAST(h.horizon - p.last_day AS BIGINT) AS recency_days,
             p.freq, p.monetary_cents
      FROM per p, hz h
    ),
    scored AS (
      SELECT custkey, recency_days, freq, monetary_cents,
             CAST(6 - ntile(5) OVER (ORDER BY recency_days, custkey)
                  AS BIGINT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY freq, custkey)
                  AS BIGINT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary_cents, custkey)
                  AS BIGINT) AS m_score
      FROM base
    )
    SELECT custkey, recency_days, freq, monetary_cents,
           r_score, f_score, m_score,
           {_SEGMENT_CASE} AS segment
    FROM scored
    """

register(TEXT, "rfm_segments", _q_rfm_segments, _RFM_SQL)


# --------------------------------------------------------------------------
# ``item_cf``: item-item collaborative filtering over order baskets —
# the classic co-occurrence recommender. Baskets are orders, items are
# parts; pair counts come from a single groupBy(orderkey) +
# higher-order-function pair expansion (basket sizes are bounded, so
# the expansion is O(basket^2) per order, NOT a corpus self-join),
# similarity is the exact-integer squared cosine
# ppm = cooc^2 * 1e6 div (n_a * n_b), and each item keeps its top-5
# neighbors with deterministic tie-breaks.
#
# item_cf. One shuffle on l_orderkey builds the basket; the unordered
# pair set comes from a nested TRANSFORM over the sorted basket array
# (baskets are O(10) items, so the per-row expansion is tiny and the
# corpus-level pair count is sum(b^2), not N^2). Item supports join on
# the parts dimension (small vs lineitem — broadcastable at scale).
# cos2_ppm = cooc^2 * 1e6 div (n_a * n_b) is exact while
# cooc^2 * 1e6 < 2^63, i.e. cooc < ~3.0e6 baskets per pair — far above
# any per-pair count at the tested scales; the documented 100-TB
# drop-in is the same formula over per-shard partial counts.


def _q_item_cf(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = bi.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    baskets = bi.groupBy("ok").agg(
        F.array_sort(F.collect_set("pk")).alias("items")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)),"
                " y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    cooc = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("cooc"))
    sym = cooc.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "cooc"
    ).unionAll(
        cooc.select(
            F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "cooc"
        )
    )
    na = n.select(F.col("pk").alias("item"), F.col("c").alias("n_item"))
    nb = n.select(F.col("pk").alias("neighbor"), F.col("c").alias("n_nb"))
    sc = (
        sym.join(na, "item")
        .join(nb, "neighbor")
        .select(
            "item",
            "neighbor",
            "cooc",
            F.expr("(cooc * cooc * 1000000) div (n_item * n_nb)").alias(
                "cos2_ppm"
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cos2_ppm").desc(), F.col("cooc").desc(), F.col("neighbor").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("item", "neighbor", "cooc", "cos2_ppm", "rank")
    )


_ITEM_CF_SQL = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY pk
    ),
    pairs AS (
      SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
      FROM bi a JOIN bi b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    sym AS (
      SELECT pa AS item, pb AS neighbor, cooc FROM pairs
      UNION ALL
      SELECT pb AS item, pa AS neighbor, cooc FROM pairs
    ),
    sc AS (
      SELECT s.item, s.neighbor, s.cooc,
             (s.cooc * s.cooc * 1000000) // (na.c * nb.c) AS cos2_ppm
      FROM sym s
      JOIN n na ON na.pk = s.item
      JOIN n nb ON nb.pk = s.neighbor
    ),
    rk AS (
      SELECT item, neighbor, cooc, cos2_ppm,
             CAST(row_number() OVER (
               PARTITION BY item
               ORDER BY cos2_ppm DESC, cooc DESC, neighbor ASC
             ) AS BIGINT) AS rank
      FROM sc
    )
    SELECT item, neighbor, cooc, cos2_ppm, rank FROM rk WHERE rank <= 5
    """

register(TEXT, "item_cf", _q_item_cf, _ITEM_CF_SQL)


# --------------------------------------------------------------------------
# ``fifo_allocation``: FIFO inventory lot matching expressed
# relationally — per part, supply lots and demand sales each get a
# cumulative-quantity half-open range via one window cumsum, and the
# FIFO allocation is exactly the pairwise overlap of those ranges
# (an equi-join on partkey plus range predicates — never a cross
# join). Allocated quantities are exact BIGINTs.
#
# fifo_allocation. Deterministic synthetic split of lineitem into
# supply lots (odd l_linenumber) and demand sales (even) per part,
# both FIFO-ordered by (shipdate, orderkey, linenumber) — a unique
# total order. One window cumsum per side turns quantities into
# half-open cumulative ranges; FIFO matching IS the range overlap:
# lot [s_lo, s_hi) serves sale [d_lo, d_hi) for
# least(s_hi, d_hi) - greatest(s_lo, d_lo) units whenever the ranges
# intersect. The join is equi on partkey with the range predicates as
# residual filters (per-part row groups are small; at heavy per-part
# skew the documented refinement is banding both sides by
# cum-quantity bucket, same technique as geodesic_band_join).
# Demand beyond total supply (and vice versa) is unmatched — shortage
# semantics, asserted in pytest.


def _fifo_side(li, parity: int):
    side = li.where(F.col("l_linenumber") % 2 == parity).select(
        F.col("l_partkey").alias("pk"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_us"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("pk").orderBy(
        "ship_us", "l_orderkey", "l_linenumber"
    )
    return side.select(
        "pk",
        "qty",
        F.row_number().over(w).cast("long").alias("seq"),
        F.coalesce(
            F.sum("qty").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("lo"),
    ).withColumn("hi", F.col("lo") + F.col("qty"))


def _q_fifo_allocation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    supply = _fifo_side(li, 1).select(
        "pk",
        F.col("seq").alias("lot_seq"),
        F.col("lo").alias("s_lo"),
        F.col("hi").alias("s_hi"),
    )
    demand = _fifo_side(li, 0).select(
        "pk",
        F.col("seq").alias("sale_seq"),
        F.col("lo").alias("d_lo"),
        F.col("hi").alias("d_hi"),
    )
    alloc = supply.join(demand, "pk").where(
        (F.col("s_lo") < F.col("d_hi")) & (F.col("d_lo") < F.col("s_hi"))
    )
    return alloc.select(
        F.col("pk").alias("partkey"),
        "lot_seq",
        "sale_seq",
        # double casts: the oracle's cumulative windowed sum(BIGINT) is
        # HUGEINT -> float64 in pandas (VERDICT r5 item 1b bug class);
        # quantities are small, exact in a double
        (
            F.least("s_hi", "d_hi") - F.greatest("s_lo", "d_lo")
        ).cast("double").alias("alloc_qty"),
        F.col("s_lo").cast("double").alias("lot_cum_start"),
        F.col("d_lo").cast("double").alias("sale_cum_start"),
    )


_FIFO_SQL = """
    WITH sided AS (
      SELECT l_partkey AS pk,
             CAST(l_quantity AS BIGINT) AS qty,
             epoch_us(l_shipdate) AS ship_us,
             l_orderkey, l_linenumber,
             l_linenumber % 2 AS parity
      FROM lineitem
    ),
    ranged AS (
      SELECT pk, parity, qty,
             CAST(row_number() OVER w AS BIGINT) AS seq,
             COALESCE(sum(qty) OVER (
               PARTITION BY pk, parity
               ORDER BY ship_us, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS lo
      FROM sided
      WINDOW w AS (
        PARTITION BY pk, parity
        ORDER BY ship_us, l_orderkey, l_linenumber
      )
    ),
    supply AS (
      SELECT pk, seq AS lot_seq, lo AS s_lo, lo + qty AS s_hi
      FROM ranged WHERE parity = 1
    ),
    demand AS (
      SELECT pk, seq AS sale_seq, lo AS d_lo, lo + qty AS d_hi
      FROM ranged WHERE parity = 0
    )
    SELECT s.pk AS partkey, s.lot_seq, d.sale_seq,
           least(s.s_hi, d.d_hi) - greatest(s.s_lo, d.d_lo) AS alloc_qty,
           s.s_lo AS lot_cum_start,
           d.d_lo AS sale_cum_start
    FROM supply s
    JOIN demand d ON d.pk = s.pk
     AND s.s_lo < d.d_hi AND d.d_lo < s.s_hi
    """

register(TEXT, "fifo_allocation", _q_fifo_allocation, _FIFO_SQL)
