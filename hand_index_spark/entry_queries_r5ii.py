"""Round-5ii registry batch — two new operator families:

- ``emd_1d``: 1-D Earth Mover's (Wasserstein-1) distance between the
  view and purchase value distributions over a shared fixed binning
  — the transport-based drift metric next to ``psi_drift`` (PSI sees
  per-bin ratios; EMD sees how FAR mass moved). On a shared 1-D
  binning EMD = Σ_edges |P_cdf − Q_cdf|, and with cross-multiplied
  integer CDFs (|cum_p·n_q − cum_q·n_p|) the whole statistic is an
  EXACT BIGINT — no float protocol at all.
- ``mutual_information``: mutual information between the lang and
  source labels — the feature-selection / association metric next to
  ``chisq_independence`` (chi-square tests independence; MI measures
  it in nats): per-cell counts exact, each n_ij·ln(n_ij·N/(n_i·n_j))
  term rounded at 6 dp per the repo ln() protocol, summed in a
  deterministic cell order via ordered fold.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
distribution-distance or information-theory surface — these extend
the drift and statistics axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_EMD_BIN = 2500  # cents per bin (values run 1..49002 cents -> ~20 bins)


# --------------------------------------------------------------------------
# emd_1d. Shared fixed-width binning (bin = yc div 2500); per-bin
# counts for both sides; CDF difference cross-multiplied to stay
# integral; one global ordered cumsum window over the ~20 bins.


def _q_emd_1d(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.where(F.col("event_type").isin("view", "purchase")).select(
        "event_type",
        F.expr(f"CAST(floor(value * 100 + 0.5) AS BIGINT) div {_EMD_BIN}")
        .alias("bin"),
    )
    counts = y.groupBy("bin").agg(
        F.sum(F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
        .alias("p_n"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .alias("q_n"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    c = counts.select(
        "bin",
        "p_n",
        "q_n",
        F.sum("p_n").over(wc).alias("cum_p"),
        F.sum("q_n").over(wc).alias("cum_q"),
        F.sum("p_n").over(wt).alias("np"),
        F.sum("q_n").over(wt).alias("nq"),
    )
    terms = c.select(
        "bin",
        "p_n",
        "q_n",
        F.abs(F.col("cum_p") * F.col("nq") - F.col("cum_q") * F.col("np"))
        .alias("cdf_gap_x"),
        "np",
        "nq",
    )
    agg = terms.groupBy().agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.max("np").alias("n_view"),
        F.max("nq").alias("n_purchase"),
        F.sum("cdf_gap_x").alias("sum_gap_x"),
    )
    # EMD in bin-width units, ppm: 1e6 * sum_gap / (np*nq)
    return agg.select(
        "n_bins",
        "n_view",
        "n_purchase",
        "sum_gap_x",
        F.expr("(1000000 * sum_gap_x) div (n_view * n_purchase)")
        .alias("emd_bins_ppm"),
    )


_EMD_SQL = f"""
    WITH y AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) // {_EMD_BIN} AS bin
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    counts AS (
      SELECT bin,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p_n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS q_n
      FROM y GROUP BY bin
    ),
    c AS (
      SELECT bin, p_n, q_n,
             CAST(sum(p_n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_p,
             CAST(sum(q_n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_q,
             CAST(sum(p_n) OVER () AS BIGINT) AS np,
             CAST(sum(q_n) OVER () AS BIGINT) AS nq
      FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(max(np) AS BIGINT) AS n_view,
           CAST(max(nq) AS BIGINT) AS n_purchase,
           CAST(sum(abs(cum_p * nq - cum_q * np)) AS BIGINT) AS sum_gap_x,
           CAST(1000000 * sum(abs(cum_p * nq - cum_q * np)) AS BIGINT)
             // (max(np) * max(nq)) AS emd_bins_ppm
    FROM c
    """

register(TEXT, "emd_1d", _q_emd_1d, _EMD_SQL)


# --------------------------------------------------------------------------
# mutual_information. MI in nats over the lang x source grid; only
# observed cells contribute (n_ij = 0 terms vanish). Terms are rounded
# at 6 dp EACH and summed in deterministic (lang, source) order via
# ordered fold, so the float sum is order-identical on both engines.


def _q_mutual_information(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("nij"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wt = Window.partitionBy()
    c = obs.select(
        "lang",
        "source",
        "nij",
        F.sum("nij").over(wl).alias("ni"),
        F.sum("nij").over(ws).alias("nj"),
        F.sum("nij").over(wt).alias("n_total"),
    )
    term = (
        "round((CAST(nij AS DOUBLE) / CAST(n_total AS DOUBLE))"
        " * ln(CAST(nij AS DOUBLE) * CAST(n_total AS DOUBLE)"
        " / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))), 6)"
    )
    terms = c.select(
        "lang", "source", "nij", F.expr(term).alias("mi_term"),
        "n_total",
    )
    agg = terms.groupBy().agg(
        F.max("n_total").alias("n_total"),
        F.count(F.lit(1)).alias("n_cells"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(lang, source,"
            " mi_term))), CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x.mi_term)"
        ).alias("mi_nats_raw"),
    )
    return agg.select(
        "n_total",
        "n_cells",
        F.expr("round(mi_nats_raw, 6)").alias("mi_nats"),
    )


_MI_SQL = """
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS nij
      FROM documents GROUP BY lang, source
    ),
    c AS (
      SELECT lang, source, nij,
             CAST(sum(nij) OVER (PARTITION BY lang) AS BIGINT) AS ni,
             CAST(sum(nij) OVER (PARTITION BY source) AS BIGINT) AS nj,
             CAST(sum(nij) OVER () AS BIGINT) AS n_total
      FROM obs
    ),
    terms AS (
      SELECT lang, source, n_total,
             round((CAST(nij AS DOUBLE) / CAST(n_total AS DOUBLE))
               * ln(CAST(nij AS DOUBLE) * CAST(n_total AS DOUBLE)
               / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))), 6) AS mi_term
      FROM c
    )
    SELECT CAST(max(n_total) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(mi_term ORDER BY lang, source)),
                 (acc, x) -> acc + x), 6) AS mi_nats
    FROM terms
    """

register(TEXT, "mutual_information", _q_mutual_information, _MI_SQL)
