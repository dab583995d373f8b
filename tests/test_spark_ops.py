"""Spark-side operator tests: encoder strategy equivalence, kNN
exactness, union-agg, raster ingestion (SURVEY.md §5.2 items 1-4)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hand_index_spark.geo import polygon as P, wkb
from hand_index_spark.operators import assign as A
from hand_index_spark.operators import encode as E
from hand_index_spark.operators.raster import footprints, tile_manifest
from hand_index_spark.operators.union_agg import union_branches
from hand_index_spark.tables import datagen, tilegrid as tg


def test_encode_strategies_agree(spark):
    """Catalyst column expr == pandas-UDF == local NumPy, bit for bit."""
    df = E.with_geotag(spark.range(5000).withColumnRenamed("id", "doc_id"))
    jvm = E.with_cells(df).select("doc_id", "h3_r5", "h3_r9").toPandas()
    pnd = E.with_cells_pandas(df).select("doc_id", "h3_r5", "h3_r9").toPandas()
    jvm = jvm.sort_values("doc_id").reset_index(drop=True)
    pnd = pnd.sort_values("doc_id").reset_index(drop=True)
    assert jvm.equals(pnd)
    from hand_index_spark.geo import cells as h3lite

    lat, lon = tg.doc_latlon_numpy(jvm.doc_id.to_numpy())
    assert (h3lite.encode(lat, lon, 5) == jvm.h3_r5.to_numpy()).all()
    assert (h3lite.encode(lat, lon, 9) == jvm.h3_r9.to_numpy()).all()

    # edges: NaN, poles, antimeridian, -0.0, out of range, and points
    # exactly on cell boundaries at every resolution checked
    import duckdb
    import pandas as pd

    res_list = (0, 5, 9, 15)
    nan, inf = float("nan"), float("inf")
    pts = [
        (nan, 0.0), (0.0, nan), (nan, nan), (90.0, 180.0), (-90.0, -180.0),
        (90.0, -180.0), (-90.0, 180.0), (-0.0, -0.0), (0.0, -0.0), (-0.0, 0.0),
        (91.0, 181.0), (-91.0, -181.0), (inf, -inf), (-inf, inf),
        (np.nextafter(90.0, 0.0), np.nextafter(180.0, 0.0)),
    ]
    for res in res_list:
        cs = 1.0 / (1 << res)
        for k in (1, 3, 7):
            pts += [(-90.0 + k * cs, -180.0 + k * cs), (90.0 - k * cs, 180.0 - k * cs)]
            pts += [(np.nextafter(-90.0 + k * cs, -inf), np.nextafter(180.0 - k * cs, inf))]
    edge = pd.DataFrame(pts, columns=["lat", "lon"])
    got = (
        E.with_cells(spark.createDataFrame(edge), resolutions=res_list)
        .toPandas()
    )
    assert got.lat.equals(edge.lat) and got.lon.equals(edge.lon)
    finite = np.isfinite(edge.lat) & np.isfinite(edge.lon)
    con = duckdb.connect()
    con.register("edge", edge[finite].reset_index(drop=True))
    for res in res_list:
        with np.errstate(invalid="ignore"):
            want = h3lite.encode(edge.lat.to_numpy(), edge.lon.to_numpy(), res)
        assert got[f"h3_r{res}"].dtype == np.int64
        assert (got[f"h3_r{res}"].to_numpy() == want).all(), res
        # the same SQL text in DuckDB (the oracle side) on the finite rows
        duck = con.execute(
            f"SELECT {h3lite.encode_sql('lat', 'lon', res)} FROM edge"
        ).fetchnumpy()
        assert (next(iter(duck.values())) == want[finite.to_numpy()]).all(), res


def test_with_cells_adds_two_projections(spark):
    """Geotag and cells each add one Project to the analyzed plan."""
    df = spark.range(10).withColumnRenamed("id", "doc_id")

    def projects(d):
        return d._jdf.queryExecution().analyzed().toString().count("Project [")

    assert projects(E.with_cells(E.with_geotag(df))) - projects(df) == 2


def _perfbench_pages(spark, n=1000):
    url = F.concat(F.lit("https://site"), F.col("doc_id").cast("string"))
    return spark.range(n).withColumnRenamed("id", "doc_id").withColumn("url", url)


def test_default_tile_index_is_cached(spark, monkeypatch):
    """Two default assign_tiles calls share one index, built once; the
    public builder still hands out a fresh object every call."""
    builds, shipped = [], []
    build = A.build_tile_index
    monkeypatch.setattr(A, "build_tile_index", lambda: builds.append(1) or build())
    sc = spark.sparkContext
    bcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda v: shipped.append(v) or bcast(v))
    A._default_tile_index.cache_clear()
    pages = E.with_geotag(_perfbench_pages(spark))
    A.assign_tiles(pages, spark)
    A.assign_tiles(pages, spark, with_s2=True)
    assert len(builds) == 1 and len(shipped) == 2
    assert shipped[0] is shipped[1] is A._default_tile_index()
    assert build() is not build()


def test_assign_refuses_non_convex_pip(spark):
    """The tiles are convex quads and the half-plane test is the only
    PIP the kernel runs; any other mode fails when the plan is built."""
    pages = E.with_geotag(_perfbench_pages(spark))
    with pytest.raises(ValueError):
        A.assign_tiles(pages, spark, pip="raycast")
    with pytest.raises(ValueError):
        A.assign_batch(A.build_tile_index(), np.zeros(1), np.zeros(1), pip="raycast")


def test_assign_plan_construction_round_trips(spark, jvm_commands):
    """Building the benchmark-shaped assign frame stays a few hundred JVM
    calls (339 here; 1,316 when each cell column was a hand-built Column
    and every output column its own withColumn)."""
    pages = _perfbench_pages(spark)

    def build():
        return A.assign_tiles(
            E.with_cells(E.with_geotag(pages)), spark, pip="convex", with_s2=True
        )

    build()  # first call: index build and JVM function lookups
    with jvm_commands() as n:
        build()
    assert n[0] < 500, n[0]


def test_knn_grid_matches_full_bruteforce():
    idx = A.build_tile_index()
    g = np.linspace(-0.1, 1.1, 300)
    lat = (tg.LAT_MIN + g * (tg.LAT_MAX - tg.LAT_MIN)).repeat(40)
    lon = np.tile(tg.LON_MIN + np.linspace(0, 1, 40) * (tg.LON_MAX - tg.LON_MIN), 300)
    pos_g, d_g = A._knn_grid(idx, lat, lon)
    dx = lon[:, None] - idx.vmean[None, :, 0]
    dy = lat[:, None] - idx.vmean[None, :, 1]
    dist = dx * dx + dy * dy
    pos_f = np.argmin(dist, axis=1)
    assert (pos_g == pos_f).all()
    assert (d_g == dist[np.arange(len(lat)), pos_f]).all()
    pos_k, d_k = A._knn_topk(lat, lon, idx.vmean[:, 0], idx.vmean[:, 1])
    assert (pos_k == pos_f).all()


def test_grid_fast_path_matches_generic():
    """Single-candidate grid PIP == generic candidate machinery, incl.
    points outside the extent and on rect boundaries."""
    idx = A.build_tile_index()
    g = np.linspace(-0.1, 1.1, 400)
    lat = (tg.LAT_MIN + g * (tg.LAT_MAX - tg.LAT_MIN)).repeat(50)
    lon = np.tile(
        tg.LON_MIN + np.linspace(-0.05, 1.05, 50) * (tg.LON_MAX - tg.LON_MIN), 400
    )
    # exact rect-boundary points
    lat = np.concatenate([lat, np.full(tg.NC, tg.LAT_MIN + 2 * tg.H)])
    lon = np.concatenate([lon, tg.LON_MIN + np.arange(tg.NC) * tg.W])
    fast = A._assign_grid_pip(idx, lat, lon)
    gen, _ = idx.assign_points(lat, lon, pip="convex")
    assert (fast == gen).all()


def test_assignment_partitioning_invariance(spark):
    """Same input at different partitioning -> identical assignments
    (SURVEY.md §5.2 item 4)."""
    base = E.with_geotag(spark.range(20000).withColumnRenamed("id", "doc_id"))
    a = A.assign_tiles(base.repartition(2), spark)
    b = A.assign_tiles(base.repartition(17), spark)
    pa = a.select("doc_id", "tile_id", "method", "dist2").toPandas().sort_values("doc_id").reset_index(drop=True)
    pb = b.select("doc_id", "tile_id", "method", "dist2").toPandas().sort_values("doc_id").reset_index(drop=True)
    assert pa.equals(pb)


def test_union_agg_dissolves_branches(spark):
    raw = datagen.tiles_raw(spark)
    src = raw.filter(
        F.col("src_file").contains("/branches/") & ~F.col("src_file").contains("_pixels_")
    )
    merged = union_branches(src, simplify_tol=0.0).toPandas()
    quads = {bp: q for _tid, bp, q in datagen.branch_quads_5070()}
    assert len(merged) == len(quads)
    for _, row in merged.head(20).iterrows():
        t, rings = wkb.parse_wkb(bytes(row.geometry))
        got_area = abs(P.ring_area(rings[0]))
        want_area = abs(P.ring_area(quads[row.branch_path]))
        assert got_area == pytest.approx(want_area, rel=1e-9)
        assert row.geom_count >= 2


def test_raster_footprints_and_manifest(spark):
    fps = datagen.raster_footprints(spark)
    out = footprints(fps).toPandas()
    quads = {f"{bp}rem_zeroed_masked_{tid}.tif": q for tid, bp, q in datagen.branch_quads_5070()}
    for _, row in out.head(20).iterrows():
        q = quads[row.raster_path]
        bbox = row.bbox if isinstance(row.bbox, dict) else row.bbox.asDict()
        assert bbox["xmin"] == pytest.approx(q[:, 0].min(), abs=10.0)
        assert bbox["ymax"] == pytest.approx(q[:, 1].max(), abs=10.0)
        assert row.x0 == bbox["xmin"] and row.y0 == bbox["ymax"]
    mani = tile_manifest(fps).toPandas()
    assert len(mani) == len(out)
    assert (mani.paths.str.len() == 1).all()
    assert mani.tile_id.nunique() == len(mani)


def test_text_invariant_through_pipeline(spark):
    """Byte-identity of text per url across the full assignment
    (BASELINE.json:15) — compares sha256 before vs after."""
    from hand_index_spark.pipelines.assign_tiles import web_pages_from_documents

    sf = "/root/testdata/sf0.001"
    pages = E.with_geotag(web_pages_from_documents(spark, sf))
    before = dict(
        pages.select("url", F.sha2("text", 256).alias("h")).collect()
    )
    out = A.assign_tiles(pages, spark)
    after = dict(out.select("url", F.sha2("text", 256).alias("h")).collect())
    assert before == after and len(before) == 500
