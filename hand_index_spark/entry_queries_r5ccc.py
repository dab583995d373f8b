"""Round-5ccc registry batch — two new operator families:

- ``cells_compact``: H3-style mixed-resolution cover COMPACTION — the
  canonical h3.compact_cells operation the reference's cell hierarchy
  implies but never implements (reference load.py:164-168 stores only
  fixed-res cells). The distinct res-9 cover of the page corpus is
  recursively compacted res 9 -> 5: whenever all 4 children of a
  parent are present, they are replaced by the parent (h3lite is a
  quadtree, so complete = 4, the analogue of H3's 7). Four statically
  unrolled rounds, each one window-count + distinct over the
  current cover — aggregate-sized after the first distinct, never a
  corpus-sized loop.
- ``link_predict``: graph link prediction over the synthetic page
  link graph (same closed-form edges as pagerank_links) — common
  neighbour counts and the quantized resource-allocation index
  (sum over shared neighbours z of 1e6 div deg(z), an exact BIGINT
  sum), for non-adjacent candidate pairs only, global top-50 with a
  total-order tie-break.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .geo import cells as h3lite
from .operators import encode as E
from .pipelines.assign_tiles import web_pages_from_documents
from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# cells_compact. Leaf cover = distinct res-9 cells of the geotagged
# corpus (one corpus-sized distinct — everything after runs on the
# cover, which is bounded by the cell lattice, not the corpus). Each
# round r in (9, 8, 7, 6): count siblings per parent with a window,
# replace complete quads by the parent, keep the rest; newly made
# parents participate in the next (coarser) round, so nested complete
# quads collapse all the way to res 5. Output invariant (pytest): the
# compacted cover's leaf equivalents sum exactly to the input cover
# and no output cell is an ancestor of another.

_LEAF_RES = 9
_MIN_RES = 5
_RES = h3lite.res_sql("cell")


def _res_col():
    return F.expr(_RES)


def _q_cells_compact(spark, sf_dir):
    pts = E.with_geotag(web_pages_from_documents(spark, sf_dir))
    cur = pts.select(
        h3lite.encode_col("lat", "lon", _LEAF_RES).alias("cell")
    ).distinct()
    for r in range(_LEAF_RES, _MIN_RES, -1):
        at_r = cur.where(_res_col() == r).withColumn(
            "par", h3lite.parent_col(F.col("cell"), r - 1, r)
        )
        cnt = F.count(F.lit(1)).over(Window.partitionBy("par"))
        merged = at_r.select(
            F.when(cnt == 4, F.col("par")).otherwise(F.col("cell")).alias(
                "cell"
            )
        ).distinct()
        cur = cur.where(_res_col() != r).unionAll(merged)
    return cur.select(
        "cell",
        _res_col().alias("res"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(2 * ({_LEAF_RES}"
            f" - {_RES}) AS INT))"
        ).alias("n_leaves"),
    )


def _compact_round_sql(src: str, r: int) -> str:
    """One compaction round r -> r-1 as a CTE body over ``src``."""
    mask = int(h3lite.ROW_MASK)
    par = h3lite.pack_sql(
        r - 1,
        f"(((cell >> {h3lite.ROW_SHIFT}) & {mask}) >> 1)",
        f"(cell & {mask}) >> 1",
    )
    return f"""
      SELECT cell FROM {src} WHERE {_RES} <> {r}
      UNION ALL
      SELECT DISTINCT CASE WHEN cnt = 4 THEN par ELSE cell END AS cell
      FROM (
        SELECT cell, par, count(*) OVER (PARTITION BY par) AS cnt
        FROM (
          SELECT cell, {par} AS par FROM {src}
          WHERE {_RES} = {r}
        )
      )
    """


def _cells_compact_sql() -> str:
    from .oracles import pts_cte

    c9 = h3lite.encode_sql("lat", "lon", _LEAF_RES)
    body = [
        f"WITH pts AS ({pts_cte()}),",
        f"cur{_LEAF_RES} AS (SELECT DISTINCT {c9} AS cell FROM pts)",
    ]
    for r in range(_LEAF_RES, _MIN_RES, -1):
        body.append(f", cur{r - 1} AS ({_compact_round_sql(f'cur{r}', r)})")
    body.append(
        f"""
        SELECT cell,
               {_RES} AS res,
               (CAST(1 AS BIGINT) << CAST(2 * ({_LEAF_RES}
                 - {_RES}) AS INTEGER)) AS n_leaves
        FROM cur{_MIN_RES}
        """
    )
    return "\n".join(body)


register(GEO, "cells_compact", _q_cells_compact, _cells_compact_sql())


# --------------------------------------------------------------------------
# link_predict. Same closed-form link graph as pagerank_links (3
# pseudo-random out-links per page). Undirected dedup, then the wedge
# enumeration: an equi self-join of the adjacency on the CENTER node
# (per-node degree is bounded by construction; at a 100-TB link graph
# the standard refinement is capping hub degrees before wedging —
# same lever as the LSH hot-bucket cap). The RA index quantizes each
# 1/deg(z) term to 1e6 div deg(z) BEFORE summing, so the score is an
# order-free exact BIGINT sum. Already-linked pairs are anti-joined
# out; top-50 under a total order (ra desc, cn desc, a, b).

_LP_FANOUT = 3
_LP_TOPK = 50


def _q_link_predict(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(_LP_FANOUT))).alias("j"),
        )
        .withColumn(
            "dst",
            (F.col("src") * F.lit(31) + F.col("j") * F.lit(17)) % F.lit(n),
        )
        .filter(F.col("dst") != F.col("src"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    centered = adj.join(deg, "node").select(
        F.col("node").alias("z"), "nbr", "deg"
    )
    wedges = (
        centered.alias("l")
        .join(
            centered.select(F.col("z"), F.col("nbr").alias("nbr2")).alias("r"),
            on="z",
        )
        .where(F.col("l.nbr") < F.col("r.nbr2"))
        .select(
            F.col("l.nbr").alias("a"),
            F.col("r.nbr2").alias("b"),
            F.expr("1000000 div deg").alias("ra_term"),
        )
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum("ra_term").alias("ra_micro"),
    )
    fresh = scored.join(
        edges, (scored.a == edges.u) & (scored.b == edges.v), "left_anti"
    )
    top = fresh.orderBy(
        F.col("ra_micro").desc(), F.col("cn").desc(), "a", "b"
    ).limit(_LP_TOPK)
    w = Window.orderBy(F.col("ra_micro").desc(), F.col("cn").desc(), "a", "b")
    return top.select(
        "a", "b", "cn", "ra_micro", F.row_number().over(w).cast("long").alias("rank")
    )


_LINK_PREDICT_SQL = f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM (
        SELECT d.doc_id AS src,
               (d.doc_id * 31 + j.j * 17) % (SELECT n FROM n) AS dst
        FROM documents d, (SELECT unnest(range(1, {_LP_FANOUT + 1})) AS j) j
      )
      WHERE dst <> src
    ),
    adj AS (
      SELECT u AS node, v AS nbr FROM edges
      UNION ALL
      SELECT v AS node, u AS nbr FROM edges
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
    ),
    centered AS (
      SELECT a.node AS z, a.nbr, d.deg
      FROM adj a JOIN deg d ON d.node = a.node
    ),
    wedges AS (
      SELECT l.nbr AS a, r.nbr AS b, 1000000 // l.deg AS ra_term
      FROM centered l JOIN centered r ON l.z = r.z AND l.nbr < r.nbr
    ),
    scored AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(ra_term) AS BIGINT) AS ra_micro
      FROM wedges GROUP BY a, b
    ),
    fresh AS (
      SELECT s.* FROM scored s
      ANTI JOIN edges e ON e.u = s.a AND e.v = s.b
    ),
    rk AS (
      SELECT a, b, cn, ra_micro,
             CAST(row_number() OVER (
               ORDER BY ra_micro DESC, cn DESC, a, b
             ) AS BIGINT) AS rank
      FROM fresh
    )
    SELECT a, b, cn, ra_micro, rank FROM rk WHERE rank <= {_LP_TOPK}
    """

register(TEXT, "link_predict", _q_link_predict, _LINK_PREDICT_SQL)
