"""Round-5j registry batch — three new operator families:

- ``token_budget_mix``: per-language corpus token budgeting — rank
  documents per language (longest first, doc_id tie-break) and keep
  them while the running token total stays within 30% of the
  language's budget, the quota-fill stage that sits between importance
  weighting (``dsir_weights``) and sampling in a data-mixing pipeline.
  Pure integer arithmetic (the 30% test is ``10*cum <= 3*tot``), one
  language-partitioned window + one broadcast of per-language totals —
  no corpus-scale single-partition anything.
- ``modularity_score``: Newman modularity of the
  ``label_prop_communities`` partition over the same symmetrized link
  graph — the quality metric that closes the community-detection
  loop. Exact integer numerator/denominator (Q = (within*2m -
  sum_c D_c^2) / (2m)^2) plus a floor-micro rendering; every count and
  degree sum is an order-free BIGINT aggregate.
- ``gc_waypoints``: great-circle waypoint interpolation (spherical
  slerp) — densify 24 deterministic routes with 3 interior waypoints
  each, the flight-path/navigation primitive next to the haversine
  band join and the spherical shoelace. The Spark expression and the
  DuckDB oracle evaluate the IDENTICAL floating-point tree (same
  literals, same operation order, pi inlined as the same 17-digit
  literal) and the result is floored to integer micro-degrees — the
  same discretization-safe contract as ``geodesic_area``.

Contract as every batch: identical column names and bit-identical
arithmetic (or floor-quantized trig, per the geodesic precedent)
between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
curation, graph-metric or navigation surface — these extend the
LLM/web-pipeline and geodesic axes the brief names as first-class.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# token_budget_mix: keep the longest docs per language until 30% of
# that language's token budget is used. Windows partition on lang
# (parallel across languages), totals broadcast back; ints throughout.

_BUDGET_PCT10 = 3  # keep while 10*cum <= 3*tot  (30%)


def _q_token_budget_mix(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_tok"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("cum", F.sum("n_tok").over(w))
    tot = d.groupBy("lang").agg(
        F.sum("n_tok").alias("tot"), F.count(F.lit(1)).alias("n_docs")
    )
    j = d.join(F.broadcast(tot), "lang").withColumn(
        "kept", (F.col("cum") * 10 <= F.col("tot") * _BUDGET_PCT10).cast("int")
    )
    return j.groupBy("lang").agg(
        F.max("n_docs").alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.sum(F.col("kept") * F.col("n_tok")).alias("kept_tokens"),
        F.max("tot").alias("total_tokens"),
        F.expr(
            "(1000000 * sum(kept * n_tok)) div max(tot)"
        ).alias("share_micro"),
    )


_BUDGET_SQL = f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang
                                   ORDER BY n_tok DESC, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cum
      FROM d
    ), t AS (
      SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM d GROUP BY lang
    ), j AS (
      SELECT c.*, t.tot, t.n_docs,
             CASE WHEN c.cum * 10 <= t.tot * {_BUDGET_PCT10}
                  THEN 1 ELSE 0 END AS kept
      FROM c JOIN t USING (lang)
    )
    SELECT lang, max(n_docs) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(kept * n_tok) AS BIGINT) AS kept_tokens,
           max(tot) AS total_tokens,
           CAST(1000000 * sum(kept * n_tok) AS BIGINT) // max(tot)
             AS share_micro
    FROM j GROUP BY lang
    """

register(TEXT, "token_budget_mix", _q_token_budget_mix, _BUDGET_SQL)


# --------------------------------------------------------------------------
# modularity_score: Newman modularity of the LPA partition. Exact
# integers: two_m = |directed symmetric edges|, within = directed
# edges inside a community, D_c = sum of degrees per community;
# q_num = within*two_m - sum_c D_c^2, q_den = two_m^2. q_micro floors
# the double ratio at 1e6 (identical floor(CAST/CAST) in both engines).


def _q_modularity_score(spark, sf_dir):
    from .entry_queries_r5h import _q_label_prop

    labels = _q_label_prop(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "community"
    )
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    from .entry_queries_r5h import _LPA_FANOUT

    out_e = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(_LPA_FANOUT))).alias("j"),
        )
        .withColumn(
            "dst", (F.col("src") * F.lit(31) + F.col("j") * F.lit(17)) % F.lit(n)
        )
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
    )
    edges = out_e.union(
        out_e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    lsrc = labels.select(
        F.col("node").alias("src"), F.col("community").alias("c_src")
    )
    ldst = labels.select(
        F.col("node").alias("dst"), F.col("community").alias("c_dst")
    )
    tagged = edges.join(lsrc, "src").join(ldst, "dst")
    within = tagged.filter(F.col("c_src") == F.col("c_dst")).count()
    two_m = edges.count()
    dc = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(lsrc, "src")
        .groupBy("c_src")
        .agg(F.sum("deg").alias("dsum"))
    )
    sums = dc.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(F.col("dsum") * F.col("dsum")).alias("sum_deg2"),
    )
    return _modularity_row(sums, within, two_m)


def _modularity_row(sums: DataFrame, within: int, two_m: int) -> DataFrame:
    """The final modularity row over ``sums(n_communities, sum_deg2)``.
    Python int literals infer int32, so the operands of every product
    are cast to long first (the oracle emits BIGINT): casting the
    product instead wraps it for two_m >= 46341."""
    w, m = F.lit(within).cast("long"), F.lit(two_m).cast("long")
    q_num = w * m - F.col("sum_deg2")
    return sums.select(
        m.alias("two_m"),
        w.alias("within_edges"),
        "n_communities",
        "sum_deg2",
        q_num.alias("q_num"),
        (m * m).alias("q_den"),
        F.floor(
            F.lit(1000000.0) * q_num.cast("double") / (m * m).cast("double")
        ).cast("long").alias("q_micro"),
    )


def _modularity_sql() -> str:
    from .entry_queries_r5h import _lpa_sql

    lpa = _lpa_sql().strip()
    # reuse the full LPA query as a nested subquery: labels(node, lbl)
    return f"""
    WITH labels AS (
        SELECT doc_id AS node, community FROM ({lpa})
    ), nn AS (SELECT count(*) AS n FROM documents),
    oute2 AS (
        SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
            FROM documents, unnest([1, 2, 3]) AS u(j)
        ) WHERE dst <> src
    ),
    edges2 AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM oute2
            UNION ALL SELECT dst AS src, src AS dst FROM oute2
        )
    ),
    scalars AS (
        SELECT (SELECT count(*) FROM edges2) AS two_m,
               (SELECT count(*) FROM edges2 e
                JOIN labels ls ON ls.node = e.src
                JOIN labels ld ON ld.node = e.dst
                WHERE ls.community = ld.community) AS within
    ),
    degs AS (
        SELECT ls.community AS c, CAST(sum(d.deg) AS BIGINT) AS dsum
        FROM (SELECT src, count(*) AS deg FROM edges2 GROUP BY src) d
        JOIN labels ls ON ls.node = d.src
        GROUP BY ls.community
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_communities,
               CAST(sum(dsum * dsum) AS BIGINT) AS sum_deg2
        FROM degs
    )
    SELECT CAST(two_m AS BIGINT) AS two_m,
           CAST(within AS BIGINT) AS within_edges,
           n_communities, sum_deg2,
           CAST(within * two_m - sum_deg2 AS BIGINT) AS q_num,
           CAST(two_m * two_m AS BIGINT) AS q_den,
           CAST(floor(1000000.0
                * CAST(within * two_m - sum_deg2 AS DOUBLE)
                / CAST(two_m * two_m AS DOUBLE)) AS BIGINT) AS q_micro
    FROM scalars, agg
    """


register(TEXT, "modularity_score", _q_modularity_score, _modularity_sql())


# --------------------------------------------------------------------------
# gc_waypoints: spherical slerp between 24 deterministic route
# endpoints, 3 interior waypoints each (f = t/4). The trig tree is
# generated ONCE below and rendered into both engines' syntax, so
# every intermediate double is computed by the same operation sequence
# (JVM Math and libm agree to the ulp on these inputs; the floor at
# micro-degrees absorbs any residual — the geodesic_area precedent).

_GC_ROUTES = 24
_PI = "3.141592653589793"


def _gc_expr(lat1: str, lon1: str, lat2: str, lon2: str, t: str) -> tuple[str, str]:
    """Shared expression text for (lat_u, lon_u) in micro-degrees —
    valid Spark SQL AND DuckDB SQL (sin/cos/asin/atan2/sqrt/floor)."""
    p1 = f"({lat1} * {_PI} / 180.0)"
    q1 = f"({lon1} * {_PI} / 180.0)"
    p2 = f"({lat2} * {_PI} / 180.0)"
    q2 = f"({lon2} * {_PI} / 180.0)"
    sdp = f"sin(({p2} - {p1}) / 2.0)"
    sdq = f"sin(({q2} - {q1}) / 2.0)"
    d = (
        f"(2.0 * asin(sqrt({sdp} * {sdp} "
        f"+ cos({p1}) * cos({p2}) * {sdq} * {sdq})))"
    )
    f_ = f"({t} / 4.0)"
    a = f"(sin((1.0 - {f_}) * {d}) / sin({d}))"
    b = f"(sin({f_} * {d}) / sin({d}))"
    x = f"({a} * cos({p1}) * cos({q1}) + {b} * cos({p2}) * cos({q2}))"
    y = f"({a} * cos({p1}) * sin({q1}) + {b} * cos({p2}) * sin({q2}))"
    z = f"({a} * sin({p1}) + {b} * sin({p2}))"
    lat = f"atan2({z}, sqrt({x} * {x} + {y} * {y}))"
    lon = f"atan2({y}, {x})"
    lat_u = f"CAST(floor({lat} * 180.0 / {_PI} * 1000000.0) AS BIGINT)"
    lon_u = f"CAST(floor({lon} * 180.0 / {_PI} * 1000000.0) AS BIGINT)"
    return lat_u, lon_u


# deterministic non-degenerate endpoints (verified distinct and
# non-antipodal for all 24 routes by tests/test_r5j_ops.py)
_GC_PARAMS = {
    "lat1": "CAST(-50 + (route_id * 37) % 100 AS DOUBLE)",
    "lon1": "CAST(-170 + (route_id * 73) % 340 AS DOUBLE)",
    "lat2": "CAST(-48 + (route_id * 91) % 97 AS DOUBLE)",
    "lon2": "CAST(-165 + (route_id * 139) % 331 AS DOUBLE)",
}


def _q_gc_waypoints(spark, sf_dir):
    lat_u, lon_u = _gc_expr(
        _GC_PARAMS["lat1"], _GC_PARAMS["lon1"],
        _GC_PARAMS["lat2"], _GC_PARAMS["lon2"],
        "CAST(t AS DOUBLE)",
    )
    routes = spark.range(_GC_ROUTES).select(F.col("id").alias("route_id"))
    pts = routes.select(
        "route_id", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("t")
    )
    return pts.select(
        "route_id",
        F.col("t").cast("long").alias("t"),
        F.expr(lat_u).alias("lat_u"),
        F.expr(lon_u).alias("lon_u"),
    )


def _gc_sql() -> str:
    lat_u, lon_u = _gc_expr(
        _GC_PARAMS["lat1"], _GC_PARAMS["lon1"],
        _GC_PARAMS["lat2"], _GC_PARAMS["lon2"],
        "CAST(t AS DOUBLE)",
    )
    return f"""
    WITH routes AS (
      SELECT unnest(range({_GC_ROUTES})) AS route_id
    ), pts AS (
      SELECT route_id, unnest(range(1, 4)) AS t FROM routes
    )
    SELECT route_id, CAST(t AS BIGINT) AS t,
           {lat_u} AS lat_u, {lon_u} AS lon_u
    FROM pts
    """


register(GEO, "gc_waypoints", _q_gc_waypoints, _gc_sql())
