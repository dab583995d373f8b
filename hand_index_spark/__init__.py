"""hand_index_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Rebuilds the query/data-processing capabilities of the NGWPC/hand-index
reference (a DuckDB + GeoPandas spatial index builder/query tool, see
/root/reference/load.py and query_geojson.py) as an idiomatic PySpark
engine designed for 10^12-row web-page tables:

- multi-resolution spatial cell encoding (H3-layout hierarchical cells
  res 5-9 + S2 cells) via vectorized NumPy inside pandas/Arrow UDFs
  *and* pure Catalyst column expressions for the hot path;
- broadcast packed-bbox-index prefilter + exact vectorized
  point-in-polygon refinement (reference: query_geojson.py:65-72 coarse
  ST_Intersects join + :158-248 exact refinement);
- kNN-to-nearest-tile fallback for points matching no polygon;
- raster-footprint -> vector ingestion (affine transform corner math);
- hive-partitioned parquet layout keyed on cell id
  (reference: load.py:279-283);
- Iceberg-style snapshot/manifest/lineage checkpointing ("icelite")
  for idempotent mid-job resume.

Everything here derives from public knowledge only: the PySpark API,
public map-projection / Hilbert-curve / computational-geometry formulas,
and the observable behavior of the reference repo.
"""

import sys as _sys

__version__ = "0.1.0"

# Inside a PySpark Python worker (the worker sets this flag before it
# unpickles any UDF of this package), stop every task re-reading every
# cached zip archive; see _worker.py.
_files = _sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    from . import _worker

    _worker.install()
del _files
