"""Graph queries over the synthetic link graph: HITS, label-propagation
communities and their modularity, link prediction, the degree power-law
fit and DAG layering.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# ``hits_scores``: HITS hubs & authorities over the deterministic web
# link graph (the second classic link-analysis algorithm next to
# ``pagerank_links``) — unnormalized integer iterates, so every
# aggregate is an order-free BIGINT sum and the result is bit-exact on
# any partitioning.
#
# HITS hubs & authorities over the SAME deterministic link graph as
# pagerank_links (3 pseudo-random out-links per page, self loops
# dropped, dedup'd). Unnormalized iterates with h_0 = 1:
#     a_k(v) = sum_{(u,v) in E} h_{k-1}(u)        (authority)
#     h_k(u) = sum_{(u,v) in E} a_k(v)            (hub)
# Every value is an exact BIGINT (bounded by max_deg^(2*ITERS) — safe
# far past 10^12 nodes at fanout-bounded degree), every aggregate an
# order-free integer sum, so the result is bit-identical on any
# partitioning. Spark runs the half-iteration join-agg loop with the
# edge frame checkpointed ONCE; the oracle unrolls the 2 iterations as
# nested CTEs. Scale shape: per round, two keyed equi-joins + two hash
# aggregates on the edge list — no broadcast of rank state, no
# NestedLoop anywhere (plan-audited).

_HITS_ITERS = 2
_HITS_FANOUT = 3


def _q_hits_scores(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("node"))
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(_HITS_FANOUT))).alias("j"),
        )
        .withColumn(
            "dst", (F.col("src") * F.lit(31) + F.col("j") * F.lit(17)) % F.lit(n)
        )
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)  # reused 2x per iteration
    )
    hub = nodes.withColumn("h", F.lit(1).cast("long"))
    auth = None
    for _ in range(_HITS_ITERS):
        a_in = (
            edges.join(hub, edges.src == hub.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("s"))
        )
        auth = (
            nodes.join(a_in, "node", "left")
            .select(
                "node", F.coalesce("s", F.lit(0)).cast("long").alias("a")
            )
            .localCheckpoint(eager=True)
        )
        h_out = (
            edges.join(auth, edges.dst == auth.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("s"))
        )
        hub = (
            nodes.join(h_out, "node", "left")
            .select(
                "node", F.coalesce("s", F.lit(0)).cast("long").alias("h")
            )
            .localCheckpoint(eager=True)
        )
    return (
        auth.join(hub, "node")
        .select(F.col("node").alias("doc_id"), F.col("a").alias("authority"),
                F.col("h").alias("hub"))
    )


def _hits_sql() -> str:
    js = ", ".join(str(j) for j in range(1, _HITS_FANOUT + 1))
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id AS node FROM documents),
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
            FROM documents, unnest([{js}]) AS u(j)
        ) WHERE dst <> src
    ),
    h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes)"""
    parts = []
    for k in range(1, _HITS_ITERS + 1):
        parts.append(f""",
    a{k} AS (
        SELECT nodes.node, CAST(coalesce(c.s, 0) AS BIGINT) AS a
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum(h{k - 1}.h) AS s
            FROM edges e JOIN h{k - 1} ON h{k - 1}.node = e.src
            GROUP BY e.dst
        ) c ON c.node = nodes.node
    ),
    h{k} AS (
        SELECT nodes.node, CAST(coalesce(c.s, 0) AS BIGINT) AS h
        FROM nodes LEFT JOIN (
            SELECT e.src AS node, sum(a{k}.a) AS s
            FROM edges e JOIN a{k} ON a{k}.node = e.dst
            GROUP BY e.src
        ) c ON c.node = nodes.node
    )""")
    return (
        head
        + "".join(parts)
        + f"""
    SELECT a{_HITS_ITERS}.node AS doc_id, a{_HITS_ITERS}.a AS authority,
           h{_HITS_ITERS}.h AS hub
    FROM a{_HITS_ITERS} JOIN h{_HITS_ITERS}
      ON h{_HITS_ITERS}.node = a{_HITS_ITERS}.node
    """
    )


register(TEXT, "hits_scores", _q_hits_scores, _hits_sql())


# --------------------------------------------------------------------------
# ``label_prop_communities``: synchronous label propagation (2
# rounds, most-frequent-neighbor-label with smallest-label
# tie-break) over the same deterministic link graph as
# ``pagerank_links``/``hits_scores`` — community detection, the graph
# family's missing member next to components/k-core/PageRank/HITS.
# All-integer updates, so results are bit-exact on any partitioning.
#
# label_prop_communities: synchronous LPA over the symmetrized version
# of the deterministic 3-out link graph (same generator as
# pagerank_links / hits_scores). Per round each node takes the most
# frequent label among its neighbors, ties broken to the SMALLEST
# label (classic deterministic LPA). Two keyed equi-joins + two hash
# aggregates per round, label state checkpointed per round — the same
# scale shape as the PageRank/HITS loops; no broadcast of node state.

_LPA_ITERS = 2
_LPA_FANOUT = 3


def _q_label_prop(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("node"))
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
    edges = (
        out_e.union(out_e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every round
    )
    labels = nodes.withColumn("lbl", F.col("node"))
    for _ in range(_LPA_ITERS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("v"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax(c) with smallest-label tie-break, as one order-free
        # max over (count, -label) pairs — no window, no sort
        upd = (
            cnt.groupBy("v")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select(F.col("v").alias("node"), (-F.col("m.nl")).alias("new_lbl"))
        )
        labels = (
            labels.join(upd, "node", "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("community"))


def _lpa_sql() -> str:
    js = ", ".join(str(j) for j in range(1, _LPA_FANOUT + 1))
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id AS node FROM documents),
    oute AS (
        SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
            FROM documents, unnest([{js}]) AS u(j)
        ) WHERE dst <> src
    ),
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM oute
            UNION ALL SELECT dst AS src, src AS dst FROM oute
        )
    ),
    l0 AS (SELECT node, node AS lbl FROM nodes)"""
    parts = []
    for k in range(1, _LPA_ITERS + 1):
        parts.append(f""",
    c{k} AS (
        SELECT e.dst AS v, l{k - 1}.lbl, count(*) AS c
        FROM edges e JOIN l{k - 1} ON l{k - 1}.node = e.src
        GROUP BY e.dst, l{k - 1}.lbl
    ),
    m{k} AS (
        SELECT v AS node, lbl FROM c{k}
        QUALIFY row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) = 1
    ),
    l{k} AS (
        SELECT nodes.node, coalesce(m{k}.lbl, l{k - 1}.lbl) AS lbl
        FROM nodes
        JOIN l{k - 1} ON l{k - 1}.node = nodes.node
        LEFT JOIN m{k} ON m{k}.node = nodes.node
    )""")
    return (
        head
        + "".join(parts)
        + f"""
    SELECT node AS doc_id, lbl AS community FROM l{_LPA_ITERS}
    """
    )


register(TEXT, "label_prop_communities", _q_label_prop, _lpa_sql())


# --------------------------------------------------------------------------
# ``modularity_score``: Newman modularity of the
# ``label_prop_communities`` partition over the same symmetrized link
# graph — the quality metric that closes the community-detection
# loop. Exact integer numerator/denominator (Q = (within*2m -
# sum_c D_c^2) / (2m)^2) plus a floor-micro rendering; every count and
# degree sum is an order-free BIGINT aggregate.
#
# modularity_score: Newman modularity of the LPA partition. Exact
# integers: two_m = |directed symmetric edges|, within = directed
# edges inside a community, D_c = sum of degrees per community;
# q_num = within*two_m - sum_c D_c^2, q_den = two_m^2. q_micro floors
# the double ratio at 1e6 (identical floor(CAST/CAST) in both engines).


def _q_modularity_score(spark, sf_dir):

    labels = _q_label_prop(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "community"
    )
    d = _t(spark, sf_dir, "documents")
    n = d.count()

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
# ``toposort_layers``: topological layering of a bounded-depth DAG —
# the scheduling primitive (dbt/airflow-style stage assignment:
# which pipeline nodes can run in parallel?). The link-graph fixture
# is leveled by construction (edges only go level k → k+1, depth ≤ 8),
# so the longest-path layer converges in a FIXED 7 iterate rounds —
# the bfs_hops checkpointed-rounds shape, with max-propagation
# instead of frontier set union. Pure integers.
#
# toposort_layers. Node level = doc_id % 8; for j in {1, 2} the edge
# target is the (src*31 + j*17) % n candidate re-based into level
# lvl+1 (so the DAG is leveled by construction and depth < 8). Layer
# = longest path length ending at the node; 7 max-propagation rounds
# reach the fixpoint deterministically. Each round is one equi-join +
# max-aggregate; the frontier is checkpointed per round (the
# bfs/label-prop shape) so the lineage stays flat.

_TOPO_LEVELS = 8


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
# ``degree_powerlaw``: power-law exponent fit of the link graph's
# degree distribution — the web-science health check (crawl graphs
# should be roughly scale-free; a distribution that is not signals a
# crawler trap or collapsed frontier). Out-degree histogram → OLS of
# ln(count) on ln(degree) over the ≤ max-degree histogram rows, with
# the ln-bearing moment sums folded in DETERMINISTIC degree order
# (the ndcg protocol) and the slope/r² micro-floored from one shared
# double tree.
#
# degree_powerlaw. Graph: the pagerank/bfs link fixture with a skewed
# twist — node v emits (v % 13) + 1 edges, so the out-degree histogram
# has 13 distinct degrees. OLS over (ln d, ln cnt) pairs.


def _q_degree_powerlaw(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.expr("sequence(1, CAST(doc_id % 13 AS INT) + 1)")
            ).alias("j"),
        )
        .withColumn(
            "dst", (F.col("src") * 31 + F.col("j") * 17) % F.lit(n)
        )
        .where(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("cnt"))
    # ordered fold of the ln-moment sums (<= 13 rows, by degree)
    moments = hist.groupBy().agg(
        F.count(F.lit(1)).alias("k"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(degree,"
            " CAST(ln(CAST(degree AS DOUBLE)) AS DOUBLE) AS lx,"
            " CAST(ln(CAST(cnt AS DOUBLE)) AS DOUBLE) AS ly))),"
            " named_struct('sx', 0.0d, 'sy', 0.0d, 'sxx', 0.0d,"
            " 'sxy', 0.0d),"
            " (acc, p) -> named_struct("
            " 'sx', acc.sx + p.lx, 'sy', acc.sy + p.ly,"
            " 'sxx', acc.sxx + p.lx * p.lx,"
            " 'sxy', acc.sxy + p.lx * p.ly))"
        ).alias("m"),
    )
    slope = (
        "CAST(floor(1000000.0 *"
        " ((CAST(k AS DOUBLE) * m.sxy - m.sx * m.sy)"
        " / (CAST(k AS DOUBLE) * m.sxx - m.sx * m.sx))) AS BIGINT)"
    )
    return moments.select(
        "k",
        F.expr("round(m.sx, 6)").alias("sum_ln_deg"),
        F.expr("round(m.sy, 6)").alias("sum_ln_cnt"),
        F.expr(slope).alias("slope_micro"),
    )


def _powerlaw_sql() -> str:
    return """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src,
               (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
        FROM documents,
             unnest(range(1, CAST(doc_id % 13 AS INT) + 2)) AS u(j)
      ) WHERE dst <> src
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
            FROM edges GROUP BY src),
    hist AS (SELECT degree, CAST(count(*) AS BIGINT) AS cnt
             FROM deg GROUP BY degree),
    pairs AS (
      SELECT degree,
             CAST(ln(CAST(degree AS DOUBLE)) AS DOUBLE) AS lx,
             CAST(ln(CAST(cnt AS DOUBLE)) AS DOUBLE) AS ly
      FROM hist
    ),
    folded AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(lx ORDER BY degree)), (a, x) -> a + x) AS sx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(ly ORDER BY degree)), (a, x) -> a + x) AS sy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(lx * lx ORDER BY degree)), (a, x) -> a + x) AS sxx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(lx * ly ORDER BY degree)), (a, x) -> a + x) AS sxy
      FROM pairs
    )
    SELECT k,
           round(sx, 6) AS sum_ln_deg,
           round(sy, 6) AS sum_ln_cnt,
           CAST(floor(1000000.0 *
             ((CAST(k AS DOUBLE) * sxy - sx * sy)
              / (CAST(k AS DOUBLE) * sxx - sx * sx))) AS BIGINT)
             AS slope_micro
    FROM folded
    """


register(TEXT, "degree_powerlaw", _q_degree_powerlaw, _powerlaw_sql())


# --------------------------------------------------------------------------
# ``link_predict``: graph link prediction over the synthetic page
# link graph (same closed-form edges as pagerank_links) — common
# neighbour counts and the quantized resource-allocation index
# (sum over shared neighbours z of 1e6 div deg(z), an exact BIGINT
# sum), for non-adjacent candidate pairs only, global top-50 with a
# total-order tie-break.
#
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
