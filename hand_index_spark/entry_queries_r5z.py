"""Round-5z registry batch — two new operator families:

- ``toposort_layers``: topological layering of a bounded-depth DAG —
  the scheduling primitive (dbt/airflow-style stage assignment:
  which pipeline nodes can run in parallel?). The link-graph fixture
  is leveled by construction (edges only go level k → k+1, depth ≤ 8),
  so the longest-path layer converges in a FIXED 7 iterate rounds —
  the bfs_hops checkpointed-rounds shape, with max-propagation
  instead of frontier set union. Pure integers.
- ``psi_drift``: population stability index between the 'view'
  (reference) and 'purchase' (current) value distributions — the
  standard production drift metric. Bin edges are the reference's
  exact nearest-rank deciles (integer cut points); bin assignment is
  an integer cutpoint count; counts are Laplace-smoothed (+1 per
  bin) so no zero-count bin can produce ln(0); the per-bin PSI
  component rounds at 6 dp (the repo's ln() protocol — Math.log and
  libm log agree only to ~1 ulp, and rounding absorbs it).

Contract as every batch: identical column names and (after the
documented rounding) identical values between the Spark program and
the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
scheduling or drift surface — these extend the graph and
data-quality axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_TOPO_LEVELS = 8


# --------------------------------------------------------------------------
# toposort_layers. Node level = doc_id % 8; for j in {1, 2} the edge
# target is the (src*31 + j*17) % n candidate re-based into level
# lvl+1 (so the DAG is leveled by construction and depth < 8). Layer
# = longest path length ending at the node; 7 max-propagation rounds
# reach the fixpoint deterministically. Each round is one equi-join +
# max-aggregate; the frontier is checkpointed per round (the
# bfs/label-prop shape) so the lineage stays flat.


def _q_toposort_layers(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    L = _TOPO_LEVELS
    nodes = d.select(F.col("doc_id").alias("node"))
    base = d.select(
        F.col("doc_id").alias("src"),
        F.explode(F.sequence(F.lit(1), F.lit(2))).alias("j"),
    ).withColumn("lvl", F.col("src") % L)
    cand = base.withColumn(
        "raw", (F.col("src") * 31 + F.col("j") * 17) % F.lit(n)
    )
    edges = (
        cand.withColumn(
            "dst", F.col("raw") - (F.col("raw") % L) + F.col("lvl") + 1
        )
        .where((F.col("lvl") < L - 1) & (F.col("dst") < n))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    layers = nodes.withColumn("layer", F.lit(0).cast("long"))
    for _ in range(L - 1):
        cand_l = (
            edges.join(layers, edges.src == layers.node)
            .groupBy("dst")
            .agg((F.max("layer") + 1).alias("cand"))
        )
        layers = (
            layers.join(cand_l, layers.node == cand_l.dst, "left")
            .select(
                "node",
                F.greatest(
                    F.col("layer"), F.coalesce(F.col("cand"), F.lit(0))
                ).alias("layer"),
            )
            .localCheckpoint(eager=True)
        )
    return layers


def _topo_sql() -> str:
    L = _TOPO_LEVELS
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   raw - (raw % {L}) + (doc_id % {L}) + 1 AS dst,
                   doc_id % {L} AS lvl
            FROM (
                SELECT doc_id, (doc_id * 31 + j * 17)
                         % (SELECT n FROM nn) AS raw
                FROM documents, unnest([1, 2]) AS u(j)
            )
        )
        WHERE lvl < {L - 1} AND dst < (SELECT n FROM nn)
    ),
    l0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS layer
           FROM documents)"""
    parts = [head]
    for k in range(1, L):
        parts.append(f""",
    c{k} AS (
        SELECT e.dst, max(p.layer) + 1 AS cand
        FROM edges e JOIN l{k - 1} p ON p.node = e.src
        GROUP BY e.dst
    ),
    l{k} AS (
        SELECT p.node,
               greatest(p.layer, coalesce(c.cand, 0)) AS layer
        FROM l{k - 1} p LEFT JOIN c{k} c ON c.dst = p.node
    )""")
    parts.append(f"\n    SELECT node, CAST(layer AS BIGINT) AS layer"
                 f" FROM l{L - 1}\n    ")
    return "".join(parts)


register(TEXT, "toposort_layers", _q_toposort_layers, _topo_sql())


# --------------------------------------------------------------------------
# psi_drift. Reference = 'view' value-cents, current = 'purchase'.
# Cut points: nearest-rank deciles of the reference (positions
# (k*n) div 10 clamped to >= 1, k = 1..9; ties collapse naturally
# because binning counts cutpoints <= y). Laplace +1 smoothing per
# bin; component = (p - q) * ln(p / q) rounded at 6 dp.


def _q_psi_drift(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    ref = y.where(F.col("event_type") == "view").select("yc")
    cur = y.where(F.col("event_type") == "purchase").select("yc")
    from pyspark.sql import Window

    wr = Window.orderBy("yc")
    n_ref = ref.count()
    cutpos = [max(1, (k * n_ref) // 10) for k in range(1, 10)]
    cuts = (
        ref.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn").isin(cutpos))
        .groupBy()
        .agg(F.sort_array(F.collect_list("yc")).alias("cuts"))
    )
    binned = (
        ref.withColumn("side", F.lit("ref"))
        .unionByName(cur.withColumn("side", F.lit("cur")))
        .crossJoin(F.broadcast(cuts))
        .select(
            "side",
            F.expr(
                "size(filter(cuts, c -> c <= yc))"
            ).cast("long").alias("bin"),
        )
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.expr("CASE WHEN side = 'ref' THEN 1 ELSE 0 END"))
        .alias("ref_n"),
        F.sum(F.expr("CASE WHEN side = 'cur' THEN 1 ELSE 0 END"))
        .alias("cur_n"),
    )
    tot = counts.groupBy().agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
    )
    comp = (
        "round((((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))"
        " - ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE)))"
        " * ln(((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))"
        " / ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE))), 6)"
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_n",
        "cur_n",
        F.expr(comp).alias("psi_component"),
    )


_PSI_SQL = """
    WITH y AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    ref AS (SELECT yc FROM y WHERE event_type = 'view'),
    cur AS (SELECT yc FROM y WHERE event_type = 'purchase'),
    nref AS (SELECT count(*) AS n FROM ref),
    ranked AS (
      SELECT yc, row_number() OVER (ORDER BY yc) AS rn FROM ref
    ),
    cuts AS (
      SELECT list(yc ORDER BY yc) AS cuts FROM ranked, nref
      WHERE rn IN (greatest(1, (1 * n) // 10), greatest(1, (2 * n) // 10),
                   greatest(1, (3 * n) // 10), greatest(1, (4 * n) // 10),
                   greatest(1, (5 * n) // 10), greatest(1, (6 * n) // 10),
                   greatest(1, (7 * n) // 10), greatest(1, (8 * n) // 10),
                   greatest(1, (9 * n) // 10))
    ),
    binned AS (
      SELECT side, CAST(len(list_filter(cuts, c -> c <= yc)) AS BIGINT)
               AS bin
      FROM (SELECT yc, 'ref' AS side FROM ref
            UNION ALL SELECT yc, 'cur' AS side FROM cur), cuts
    ),
    counts AS (
      SELECT bin,
             CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
               AS ref_n,
             CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
               AS cur_n
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT sum(ref_n) AS ref_tot, sum(cur_n) AS cur_tot FROM counts
    )
    SELECT bin, ref_n, cur_n,
           round((((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))
                - ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE)))
               * ln(((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))
                  / ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE))), 6)
             AS psi_component
    FROM counts, tot
    """

register(TEXT, "psi_drift", _q_psi_drift, _PSI_SQL)
