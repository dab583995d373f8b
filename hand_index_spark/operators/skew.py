"""Skew handling: hot-cell detection + salted repartitioning.

North rule (BASELINE.json:6): "Skew from dense cells (urban H3
hotspots) is handled by salted repartitioning on cell id and AQE
skew-join splitting; all shuffles are explicit on cell-id keys with
partition counts sized to executor cores."

Mechanics:
- :func:`detect_hot_cells` — one cheap count sketch (groupBy cell,
  count) and a quantile cut; at 10^12 rows run it on a sample
  (``sample_fraction``).
- :func:`salted_repartition` — rows in hot cells get a salt column
  ``pmod(xxhash64(salt_key), k)`` so one dense cell spreads over k
  shuffle partitions; cold cells keep salt 0 preserving co-location.
  Results are provably assignment-invariant (tests assert equality
  with/without salting).
- AQE skew-join splitting is enabled session-wide (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fixed sample seed: the same input gives the same hot list, and so
# the same salted file layout, on every run
SAMPLE_SEED = 0


def detect_hot_cells(
    df: DataFrame,
    cell_col: str = "cell_id",
    quantile: float = 0.99,
    sample_fraction: float | None = None,
) -> list[int]:
    """Cells whose row count exceeds the ``quantile`` of per-cell counts.

    The sketch's rank error is a tenth of the tail above the cut: Spark
    answers any quantile >= 1 - error with the maximum, so an error of
    0.01 at quantile 0.99 cut at the max and flagged no cell at all."""
    src = df
    if sample_fraction:
        # fraction by keyword: PySpark's sample(f, seed=s) drops the seed
        src = df.sample(fraction=sample_fraction, seed=SAMPLE_SEED)
    counts = src.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))
    cut = counts.approxQuantile("n", [quantile], (1.0 - quantile) / 10)[0]
    return [
        r[0]
        for r in counts.filter(F.col("n") > F.lit(cut)).select(cell_col).collect()
    ]


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    cell_col: str = "cell_id",
    salt_key: str = "url",
    salt_buckets: int = 8,
    hot_cells: list[int] | None = None,
) -> DataFrame:
    """Explicit shuffle on (cell, salt): hot cells fan out over
    ``salt_buckets`` partitions, cold cells stay co-located (salt 0).
    ``hot_cells=None`` salts every cell; ``[]`` salts none."""
    salt = F.pmod(F.xxhash64(F.col(salt_key)), F.lit(salt_buckets))
    if hot_cells is not None:
        salt = F.when(F.col(cell_col).isin(hot_cells), salt).otherwise(F.lit(0))
    return (
        df.withColumn("__salt", salt.cast("int"))
        .repartition(num_partitions, F.col(cell_col), F.col("__salt"))
        .drop("__salt")
    )
