"""Driver-contract queries + DuckDB oracles (SURVEY.md section 2 coverage).

Every entry here is one operator from the inventory, expressed twice:
 * ``QUERIES[name]``: (spark, sf_dir) -> DataFrame — the engine path,
   DataFrame API + fiona_spark operators;
 * ``ORACLES[name]``: ANSI SQL for DuckDB over the same parquet views —
   an independent computation of the same result.

Determinism rules (see fiona_spark/functions/derived.py): shared
integer-modular arithmetic, no transcendentals, decimal casts for money
aggregates, integer-quantized dot products, ranks instead of raw float
distances in outputs.  Column names are aliased identically on both
sides (the driver hashes values under sorted column names).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from . import cells, fixtures
from .functions import derived
from .operators import aggregates, filters, spatial

QUERIES: dict = {}
ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# 1. Fiona-parity scan/filter/project operators (SURVEY.md section 2.2)
# ===========================================================================

@register("bbox_filter", f"""
WITH pts AS ({derived.PTS_CTE})
SELECT image_id FROM pts
WHERE xmax >= -20.0 AND xmin <= 40.0 AND ymax >= -10.0 AND ymin <= 30.0
""")
def q_bbox_filter(spark, sf_dir):
    """Collection.filter(bbox=) envelope test (fiona/ogrext.pyx:1818-1820)."""
    pts = derived.pts_df(spark, sf_dir)
    return filters.filter_bbox(pts, (-20.0, -10.0, 40.0, 30.0)).select("image_id")


@register("where_filter", """
SELECT o_orderkey FROM orders
WHERE o_orderpriority LIKE '1-%' AND o_totalprice > 150000.0
""")
def q_where_filter(spark, sf_dir):
    """OGR-SQL WHERE pushdown (fiona/ogrext.pyx:1830-1840)."""
    orders = _t(spark, sf_dir, "orders")
    return filters.filter_where(
        orders, "o_orderpriority LIKE '1-%' AND o_totalprice > 150000.0"
    ).select("o_orderkey")


@register("gpkg_source")
def q_gpkg_source(spark, sf_dir):
    """GeoPackage end-to-end under the driver contract (r5; second
    format-driver CORRECTNESS row after shapefile_source): canonical
    zones written to a real .gpkg through the sqlite3 +
    GeoPackageBinary sink (`sources/geopackage.py`), re-read
    distributed via ``read_geopackage``'s mapInPandas WKB decode,
    exploded to one row per ring vertex.  The GPKG path applies NO
    winding/closure normalization, so the oracle is the canonical
    zones parquet itself unnested per vertex — the sink's WKB encode,
    the GP blob envelope framing, the sqlite round trip, and the
    reader's decode must reproduce the source doubles bit-for-bit.
    (bbox_where retired for this slot: it was a pure composition of
    the still-registered bbox_filter + where_filter rows.)"""
    from .sources import geopackage
    gpkg = fixtures.ensure_canon_gpkg(spark)
    df = geopackage.read_geopackage(spark, gpkg)
    return (df.select(
        "zone_id", "NAME", "AGBUR",
        F.col("WILDRNP020").cast("long").alias("WILDRNP020"),
        F.posexplode(F.arrays_zip("xs", "ys")))
        .select("zone_id", "NAME", "AGBUR", "WILDRNP020",
                F.col("pos").cast("long").alias("vi"),
                F.col("col.xs").alias("x"),
                F.col("col.ys").alias("y")))


@register("slice_step", """
WITH r AS (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
           FROM orders)
SELECT o_orderkey FROM r WHERE rn >= 100 AND rn < 1000 AND (rn - 100) % 7 = 0
""")
def q_slice_step(spark, sf_dir):
    """slice(start, stop, step) (fiona/ogrext.pyx:1852-1910)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    return filters.slice_rows(orders, 100, 1000, 7, "o_orderkey").select("o_orderkey")


@register("fid_access", """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
""")
def q_fid_access(spark, sf_dir):
    """Random access by FID (fiona/collection.py:506-533)."""
    orders = _t(spark, sf_dir, "orders")
    fid = orders.agg(F.min("o_orderkey")).collect()[0][0]
    return filters.get_fid(orders, fid, "o_orderkey").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")


@register("calc_column", """
SELECT o_orderkey,
       concat(o_orderstatus, '-', CAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS VARCHAR)) AS o_class
FROM orders
""")
def q_calc_column(spark, sf_dir):
    """fio calc computed property (fiona/fio/calc.py:19-63)."""
    orders = _t(spark, sf_dir, "orders")
    out = filters.calc(
        orders, "o_class",
        "concat(o_orderstatus, '-', CAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS STRING))")
    return out.select("o_orderkey", "o_class")


@register("openfilegdb_source")
def q_openfilegdb_source(spark, sf_dir):
    """OpenFileGDB end-to-end under the driver contract (r6; fourth
    format-driver CORRECTNESS row): canonical zones written to a real
    ESRI File Geodatabase through the .gdbtable/.gdbtablx encoder
    (`sources/openfilegdb.py`, reference `drvsupport.py:47` — GDAL
    ≥3.6 "raw" w/a), re-read distributed via ``read_openfilegdb``'s
    mapInPandas varint decode, exploded to one row per ring vertex.
    FGDB QUANTIZES coordinates on the layer grid, so the oracle is an
    INDEPENDENT numpy application of the spec's quantization formula
    (`fixtures.ensure_canon_gdb_truth`) — the varint delta codec, the
    null bitmaps, the .gdbtablx offsets, and the field-descriptor
    round trip must reproduce it bit-for-bit.
    (keys_projection retired for this slot: it was a pure
    filter+project composition of the still-registered where_filter
    row; column pruning keeps its ReadSchema plan assert in
    test_plan_quality.)"""
    from .sources import openfilegdb
    gdb = fixtures.ensure_canon_gdb(spark)
    df = openfilegdb.read_openfilegdb(spark, gdb, "zones")
    return (df.select(
        "zone_id", "NAME", "AGBUR",
        F.col("WILDRNP020").cast("long").alias("WILDRNP020"),
        F.posexplode(F.arrays_zip("xs", "ys")))
        .select("zone_id", "NAME", "AGBUR", "WILDRNP020",
                F.col("pos").cast("long").alias("vi"),
                F.col("col.xs").alias("x"),
                F.col("col.ys").alias("y")))


# ===========================================================================
# 2. Aggregates (SURVEY.md section 2.4)
# ===========================================================================

# (count_table — SELECT count(*) — retired in r3 for the 50-query cap:
# row counting is implicitly verified by every query's rows_match and
# by info_summary's pytest; the freed slot drives dissolve_comp below)


@register("dissolve_comp")
def q_dissolve_comp(spark, sf_dir):
    """Connected-component dissolve grouping (`fio reduce` components):
    the engine builds overlap edges with the distributed range join
    (covering-cell equi-join + ref-point dedup) and a min-id-labeled
    union-find over edge endpoints only; the oracle rebuilds the same
    components in pure SQL via a recursive-CTE transitive closure over
    the envelope-intersects graph.  Verifies the distributed edge
    generation AND the component labeling; ring geometry stays
    pytest-verified (test_polygon_union)."""
    _img, zon = _canon_paths()
    zones = spark.read.parquet(zon).select("zone_id", "xs", "ys")
    out = aggregates.dissolve_components(zones, "zone_id")
    return out.select("component", F.col("n_members").cast("long"))


@register("extent_pts", f"""
WITH pts AS ({derived.PTS_CTE})
SELECT min(xmin) AS xmin, min(ymin) AS ymin, max(xmax) AS xmax, max(ymax) AS ymax
FROM pts
""")
def q_extent_pts(spark, sf_dir):
    """Layer extent (fiona/ogrext.pyx:1145-1155 OGR_L_GetExtent)."""
    return aggregates.extent(derived.pts_df(spark, sf_dir))


@register("bounds_grouped", f"""
WITH pts AS ({derived.PTS_CTE})
SELECT o.o_orderpriority,
       min(p.xmin) AS xmin, min(p.ymin) AS ymin,
       max(p.xmax) AS xmax, max(p.ymax) AS ymax
FROM pts p JOIN orders o ON p.image_id = o.o_orderkey
GROUP BY o.o_orderpriority
""")
def q_bounds_grouped(spark, sf_dir):
    """fio bounds grouped min/max (fiona/fio/bounds.py:44-89)."""
    pts = derived.pts_df(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("image_id"), "o_orderpriority")
    return aggregates.bounds_grouped(pts.join(orders, "image_id"), ["o_orderpriority"])


@register("pds_source")
def q_pds_source(spark, sf_dir):
    """PDS3 end-to-end under the driver contract (r7; fifth
    format-driver CORRECTNESS row): canonical zones authored as an ODL
    label + DETACHED binary table (`fixtures.ensure_canon_pds`, raw
    struct packing — independent of the reader), re-read via
    ``read_pds`` (`sources/pds.py`, reference `drvsupport.py:110-112`).
    The ``^TABLE`` pointer uses the 1-based ``<BYTES>`` detached form
    over a header pad, so the r6-advice offset fix stays
    contract-verified; CHARACTER / MSB_INTEGER / IEEE_REAL decodes are
    bit-exact pass-throughs, so the oracle is the canonical zones
    parquet itself (first ring vertex per zone).
    (distinct_flags retired for this slot: plain dropDuplicates is
    exercised transitively by dedup_exact and the distinct family in
    tpch_q1's grouping; the 50-query cap is hard.)"""
    from .sources import pds
    lbl = fixtures.ensure_canon_pds()
    df = pds.read_pds(spark, lbl)
    return df.select(
        F.col("ZONE_ID").alias("zone_id"),
        F.col("NAME"),
        F.col("AGBUR"),
        F.col("WILDRNP020").cast("long").alias("WILDRNP020"),
        F.expr("xs[0]").alias("x"),
        F.expr("ys[0]").alias("y"))


@register("fgb_source")
def q_fgb_source(spark, sf_dir):
    """FlatGeobuf end-to-end under the driver contract (r5): canonical
    zones written to a real unindexed .fgb through the struct-level
    flatbuffers sink (`sources/flatgeobuf.py`), re-read distributed via
    ``read_flatgeobuf``'s mapInPandas decode, exploded per ring vertex.
    Same bit-exact oracle convention as gpkg_source (no winding or
    closure changes on this path): the flatbuffers vtable/table
    framing, the <f8 xy interleave, and the property-blob codec must
    reproduce the source frame exactly.
    (union_cat retired for this slot: plain UNION ALL; the concat
    family stays covered by tpch_q1 and fio-cat pytest.)"""
    from .sources import flatgeobuf
    fgb = fixtures.ensure_canon_fgb(spark)
    df = flatgeobuf.read_flatgeobuf(spark, fgb)
    return (df.select(
        "zone_id", "NAME", "AGBUR",
        F.col("WILDRNP020").cast("long").alias("WILDRNP020"),
        F.posexplode(F.arrays_zip("xs", "ys")))
        .select("zone_id", "NAME", "AGBUR", "WILDRNP020",
                F.col("pos").cast("long").alias("vi"),
                F.col("col.xs").alias("x"),
                F.col("col.ys").alias("y")))


@register("tpch_q1", """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q_tpch_q1(spark, sf_dir):
    """Relational completeness demo: grouped multi-agg.  Money sums go
    through DECIMAL so they are order-independent (doubles are not)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_base"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                       * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)"))
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("count_order")))


@register("topk_per_group", """
WITH r AS (SELECT o_orderpriority, o_orderkey,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           FROM orders)
SELECT o_orderpriority, o_orderkey, rnk FROM r WHERE rnk <= 5
""")
def q_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey")
    return (orders.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("o_orderpriority", "o_orderkey", "rnk"))


@register("window_tumbling", """
SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) / 1000000 AS win_start,
       event_type,
       count(*) AS n, min(value) AS vmin, max(value) AS vmax
FROM events GROUP BY 1, 2
""")
def q_window_tumbling(spark, sf_dir):
    """Tumbling 10-min window agg over the events table — the batch
    form of the streaming window (SURVEY.md section 2.9); integer-us
    arithmetic so engine and oracle bucket identically."""
    ev = _t(spark, sf_dir, "events")
    # parquet timestamps load as TIMESTAMP_NTZ; session TZ is UTC so the
    # cast interprets them as UTC — matching DuckDB's naive epoch_us
    return (ev.withColumn(
        "win_start",
        F.expr("(unix_micros(CAST(ts AS TIMESTAMP)) "
               "- unix_micros(CAST(ts AS TIMESTAMP)) % 600000000) / 1000000"))
        .groupBy("win_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("value").alias("vmin"), F.max("value").alias("vmax")))


# ===========================================================================
# 3. Cell index / tiling (north_rule * operators)
# ===========================================================================

TILE_RES = 12
COARSE_RES = 5


@register("tile_assign", f"""
WITH pts AS ({derived.PTS_CTE})
SELECT image_id, {cells.cell_id_sql('lng', 'lat', TILE_RES)} AS cell FROM pts
""")
def q_tile_assign(spark, sf_dir):
    """H3/S2-style tile assignment of each point (north_star)."""
    pts = derived.pts_df(spark, sf_dir)
    return spatial.with_point_cell(pts, TILE_RES).select("image_id", "cell")


@register("shapefile_source")
def q_shapefile_source(spark, sf_dir):
    """ESRI Shapefile end-to-end under the driver contract (the r4
    format block's first CORRECTNESS row): canonical zones written to a
    real .shp/.dbf/.shx through the struct-level sink
    (`sources/shapefile.py`), re-read distributed via
    ``read_shapefile``'s mapInPandas decode, exploded to one row per
    ring vertex.  The oracle reads an INDEPENDENTLY generated parquet
    twin (`fixtures.ensure_canon_shp_truth`: pure numpy closure + ESRI
    CW winding) — writer winding, dbf round-trip, and the raw <f8
    coordinate copies must all agree bit-for-bit.
    (tile_parent retired for this slot: its parent-derivation kernel
    stays differentially tested in tests/test_r5_guards.py.)"""
    from .sources import shapefile
    shp = fixtures.ensure_canon_shp(spark)
    df = shapefile.read_shapefile(spark, shp)
    return (df.select(
        "zone_id", "NAME", "AGBUR",
        F.col("WILDRNP020").cast("long").alias("WILDRNP020"),
        F.posexplode(F.arrays_zip("xs", "ys")))
        .select("zone_id", "NAME", "AGBUR", "WILDRNP020",
                F.col("pos").cast("long").alias("vi"),
                F.col("col.xs").alias("x"),
                F.col("col.ys").alias("y")))


# CRS round-trip bands: (column, EPSG code, in-band predicate over
# numpy lng/lat — None = every point).  Band-limited families assert
# "in band implies round-trip closes"; the bands keep each kernel well
# inside its domain of validity (UTM zone 33 +/-3 deg of its edges,
# LCC/Albers/LAEA near their standard parallels, polar stereographic
# south of -60).
_CRS_RT_BANDS = (
    ("ok_webmerc", "EPSG:3857", None),
    ("ok_cea", "EPSG:6933", None),
    ("ok_utm_n", "EPSG:32633", lambda g, t: (g >= 9) & (g <= 21) & (t >= 0)),
    ("ok_utm_s", "EPSG:32733", lambda g, t: (g >= 9) & (g <= 21) & (t < 0)),
    ("ok_lcc", "EPSG:2154",
     lambda g, t: (g >= -10) & (g <= 15) & (t >= 35) & (t <= 55)),
    ("ok_albers", "EPSG:5070",
     lambda g, t: (g >= -125) & (g <= -65) & (t >= 20) & (t <= 55)),
    ("ok_laea", "EPSG:3035",
     lambda g, t: (g >= -10) & (g <= 40) & (t >= 30) & (t <= 70)),
    ("ok_stere", "EPSG:3031", lambda g, t: t <= -60),
)


@register("crs_roundtrip", f"""
WITH pts AS ({derived.PTS_CTE})
SELECT image_id, {', '.join(f'CAST(1 AS BIGINT) AS {c}' for c, _e, _b in _CRS_RT_BANDS)}
FROM pts WHERE abs(lat) <= 79.5
""")
def q_crs_roundtrip(spark, sf_dir):
    """CRS transform family under the driver contract (SURVEY §2.8 CRS
    row; reference `fiona/transform.py:11-124` / `_transform.pyx`):
    every projection kernel family (web-Mercator 3857, equal-area
    cylindrical 6933, UTM N+S Krüger series, Lambert conformal conic
    2154, Albers 5070, LAEA 3035, polar stereographic 3031) must close
    forward∘inverse to < 1e-9 deg on every derived point inside its
    validity band (measured max ~1e-13).  One Arrow pass computes all
    eight flags; the oracle is the defining property (identity ⇒ all
    flags 1) over the identical point set."""
    pts = derived.pts_df(spark, sf_dir).where(F.abs(F.col("lat")) <= 79.5)
    fields = [T.StructField(c, T.LongType()) for c, _e, _b in _CRS_RT_BANDS]

    @F.pandas_udf(T.StructType(fields))
    def rt(lng: pd.Series, lat: pd.Series) -> pd.DataFrame:
        from .transform import pair_fn
        g = lng.to_numpy(np.float64)
        t = lat.to_numpy(np.float64)
        out = {}
        for col, code, band in _CRS_RT_BANDS:
            m = np.ones(len(g), bool) if band is None else band(g, t)
            ok = np.ones(len(g), bool)
            if m.any():
                fx, fy = pair_fn("EPSG:4326", code)(g[m], t[m])
                bx, by = pair_fn(code, "EPSG:4326")(fx, fy)
                err = np.maximum(np.abs(bx - g[m]), np.abs(by - t[m]))
                ok[m] = err < 1e-9
            out[col] = ok.astype(np.int64)
        return pd.DataFrame(out)

    r = pts.select("image_id", rt("lng", "lat").alias("rt"))
    return r.select("image_id", *[F.col(f"rt.{c}").alias(c)
                                  for c, _e, _b in _CRS_RT_BANDS])


@register("hot_cells", f"""
WITH pts AS ({derived.PTS_CTE}),
c AS (SELECT {cells.cell_id_sql('lng', 'lat', 3)} AS cell FROM pts)
SELECT cell, count(*) AS n FROM c GROUP BY cell
HAVING count(*) > (SELECT count(*) FROM orders) / 100
""")
def q_hot_cells(spark, sf_dir):
    """Skew detector: per-cell histogram, threshold relative to total
    (SURVEY.md section 2.4 per-cell stats -> salting decision)."""
    pts = derived.pts_df(spark, sf_dir)
    total = _t(spark, sf_dir, "orders").count()
    p = spatial.with_point_cell(pts, 3)
    return (p.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > total / 100))


# ===========================================================================
# 4. Spatial joins (SURVEY.md section 2.3, all * north_rule operators)
# ===========================================================================

@register("cell_equijoin", f"""
WITH pts AS ({derived.PTS_CTE}), zn AS ({derived.ZONES_CTE})
SELECT p.image_id, z.zone_key
FROM (SELECT image_id, {cells.cell_id_sql('lng', 'lat', COARSE_RES)} AS cell FROM pts) p
JOIN (SELECT zone_key, {cells.cell_id_sql('clng', 'clat', COARSE_RES)} AS cell FROM zn) z
USING (cell)
""")
def q_cell_equijoin(spark, sf_dir):
    """Spatial equi-join on shared cell id — the set-oriented form of
    per-polygon filter(bbox=) (fiona/ogrext.pyx:1818-1820)."""
    pts = spatial.with_point_cell(derived.pts_df(spark, sf_dir), COARSE_RES)
    zn = spatial.with_point_cell(derived.zones_rect_df(spark, sf_dir), COARSE_RES,
                                 "clng", "clat")
    return (pts.select("image_id", "cell")
            .join(F.broadcast(zn.select("zone_key", "cell")), "cell")
            .select("image_id", "zone_key"))


@register("pip_join_rects", f"""
WITH pts AS ({derived.PTS_CTE}), zn AS ({derived.ZONES_CTE})
SELECT p.image_id, z.zone_key
FROM pts p JOIN zn z
  ON p.lng >= z.xmin AND p.lng < z.xmax AND p.lat >= z.ymin AND p.lat < z.ymax
""")
def q_pip_join_rects(spark, sf_dir):
    """Exact point-in-polygon join, polygon side = rectangles whose SQL
    truth is the half-open containment test (the engine's ray-cast is
    half-open on rectangles: [xmin,xmax) x [ymin,ymax))."""
    pts = derived.pts_df(spark, sf_dir)
    zn = derived.zones_rect_df(spark, sf_dir)
    return spatial.pip_join(pts, zn, res=6, point_cols=("image_id",),
                            zone_cols=("zone_key",))


@register("range_join", f"""
WITH pts AS ({derived.PTS_CTE}), zn AS ({derived.ZONES_CTE})
SELECT p.image_id, z.zone_key
FROM pts p JOIN zn z
  ON p.xmax >= z.xmin AND p.xmin <= z.xmax AND p.ymax >= z.ymin AND p.ymin <= z.ymax
""")
def q_range_join(spark, sf_dir):
    """bbox x bbox intersects join with reference-point dedup."""
    pts = derived.pts_df(spark, sf_dir)
    zn = derived.zones_rect_df(spark, sf_dir)
    return spatial.range_join(pts, zn, res=6, a_cols=("image_id",),
                              b_cols=("zone_key",))


@register("knn_join", f"""
WITH pts AS ({derived.PTS_CTE}), zn AS ({derived.ZONES_CTE}),
d AS (SELECT p.image_id, z.zone_key,
             row_number() OVER (
               PARTITION BY p.image_id
               ORDER BY sqrt((p.lng - z.clng) * (p.lng - z.clng)
                           + (p.lat - z.clat) * (p.lat - z.clat)), z.zone_key
             ) AS knn_rank
      FROM pts p CROSS JOIN zn z)
SELECT image_id, zone_key, knn_rank FROM d WHERE knn_rank <= 3
""")
def q_knn_join(spark, sf_dir):
    """kNN join via cell-disk + exact fallback vs brute-force oracle."""
    pts = derived.pts_df(spark, sf_dir)
    zn = derived.zones_rect_df(spark, sf_dir)
    return spatial.knn_join(pts, zn, k=3, point_key="image_id", zone_key="zone_key")


@register("spatial_semi", f"""
WITH pts AS ({derived.PTS_CTE}), zn AS ({derived.ZONES_CTE})
SELECT p.image_id FROM pts p WHERE EXISTS (
  SELECT 1 FROM zn z
  WHERE p.lng >= z.xmin AND p.lng < z.xmax AND p.lat >= z.ymin AND p.lat < z.ymax)
""")
def q_spatial_semi(spark, sf_dir):
    pts = derived.pts_df(spark, sf_dir)
    zn = derived.zones_rect_df(spark, sf_dir)
    return spatial.spatial_semi_join(pts, zn, res=6, point_cols=("image_id",),
                                     zone_cols=("zone_key",)).select("image_id")


@register("spatial_anti", f"""
WITH pts AS ({derived.PTS_CTE}), zn AS ({derived.ZONES_CTE})
SELECT p.image_id FROM pts p WHERE NOT EXISTS (
  SELECT 1 FROM zn z
  WHERE p.lng >= z.xmin AND p.lng < z.xmax AND p.lat >= z.ymin AND p.lat < z.ymax)
""")
def q_spatial_anti(spark, sf_dir):
    pts = derived.pts_df(spark, sf_dir)
    zn = derived.zones_rect_df(spark, sf_dir)
    return spatial.spatial_anti_join(pts, zn, res=6, point_cols=("image_id",),
                                     zone_cols=("zone_key",)).select("image_id")


# ===========================================================================
# 5. Canonical image+zone fixtures (input_hint table; real polygons)
# ===========================================================================

def _canon_paths():
    return fixtures.ensure_canon()


def _canon_pip_sql() -> str:
    """Point-in-CONVEX-polygon in pure SQL: all edge cross-products
    non-negative (zones are CCW-convex by construction), with +/-360
    longitude shifts for antimeridian stradders.  An algorithm
    deliberately different from the engine's ray-cast — agreement on
    2000x67 pairs is strong evidence both are right."""
    def inside(shift):
        return f"""(len(list_filter(range(1, len(z.xs) + 1), i ->
          ((z.xs[(i % len(z.xs)) + 1] - z.xs[i]) * (p.lat - z.ys[i])
           - ((p.lng + {shift}) - z.xs[i]) * (z.ys[(i % len(z.ys)) + 1] - z.ys[i])) < 0.0)) = 0)"""
    img, zon = _canon_paths()
    return f"""
WITH p AS (SELECT image_id, lng, lat FROM read_parquet('{img}')),
z AS (SELECT zone_id, xs, ys FROM read_parquet('{zon}'))
SELECT p.image_id, z.zone_id
FROM p, z
WHERE {inside('0.0')} OR {inside('360.0')} OR {inside('-360.0')}
"""


@register("pip_images")
def q_pip_images(spark, sf_dir):
    """Flagship PIP join on the canonical image+caption fixture."""
    img, zon = _canon_paths()
    images = spark.read.parquet(img)
    zones = spark.read.parquet(zon)
    return spatial.pip_join(images, zones, res=6)


ORACLES["pip_images"] = None  # filled at import bottom (needs paths)


# (knn_images was a second kNN-cascade row on the canon fixture;
# retired in r4 for the 50-query cap to promote repetition_stats — the
# operator stays driver-verified by knn_join and plan/fallback-parity
# asserted in tests/test_r3_guards.py)


@register("repetition_stats", """
WITH d AS (SELECT doc_id, text FROM documents),
ln AS (
  SELECT doc_id,
         1.0 - CAST(len(list_distinct(string_split(text, chr(10))))
                    AS DOUBLE)
             / greatest(len(string_split(text, chr(10))), 1)
           AS line_dup_frac
  FROM d),
w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM d),
g2 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= 2 THEN
      list_transform(range(1, len(ws)),
                     i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM w),
g2c AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
g2s AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS f
        FROM g2c GROUP BY doc_id),
c6 AS (
  SELECT doc_id, unnest(
    CASE WHEN length(text) >= 6 THEN
      list_transform(range(1, length(text) - 4),
                     i -> substr(text, CAST(i AS INT), 6))
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM d),
c6c AS (SELECT doc_id, gram, count(*) AS c FROM c6 GROUP BY doc_id, gram),
c6s AS (SELECT doc_id,
               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
               / sum(c) AS f
        FROM c6c GROUP BY doc_id)
SELECT d.doc_id, ln.line_dup_frac,
       coalesce(g2s.f, 0.0) AS top_2gram_frac,
       coalesce(c6s.f, 0.0) AS dup_6chargram_frac
FROM d JOIN ln USING (doc_id)
LEFT JOIN g2s USING (doc_id)
LEFT JOIN c6s USING (doc_id)
""")
def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality filters (dup-line fraction,
    top-2-gram mass, duplicated char-6-gram mass) — all-relational,
    one shuffle per gram family (`fiona_spark/operators/text.py`).
    round_digits=None keeps raw IEEE ratios: same-integer divisions
    are bit-identical across Spark and DuckDB, so the value-hash
    differential is exact with no rounding-rule coupling."""
    from .operators import text as tx
    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_stats(docs, round_digits=None)


@register("vfs_source")
def q_vfs_source(spark, sf_dir):
    """zip:// VFS source under the driver contract (SURVEY §2.1 zip/vfs
    row; reference URI syntax `fiona/vfs.py` + `_path.py`): the
    canonical zones shapefile zipped with all sidecars, opened through
    the generic registry via the reference's ``zip://archive!member``
    URI — vfs member extraction, extension inference, and the
    distributed .shp decode all on one path.  Oracle: the independently
    generated per-vertex shapefile truth parquet (same truth as
    shapefile_source — the zip hop must be byte-transparent).
    (tiles_images retired for this slot: with_covering_cells stays
    driver-green via tile_assign and block_cells.)"""
    from .sources import drivers
    uri = fixtures.ensure_canon_shp_zip(spark)
    df = drivers.open_dataset(spark, uri)
    return (df.select(
        "zone_id", "NAME", "AGBUR",
        F.col("WILDRNP020").cast("long").alias("WILDRNP020"),
        F.posexplode(F.arrays_zip("xs", "ys")))
        .select("zone_id", "NAME", "AGBUR", "WILDRNP020",
                F.col("pos").cast("long").alias("vi"),
                F.col("col.xs").alias("x"),
                F.col("col.ys").alias("y")))


# (extent over the images table was a second `extent` row; retired in
# r3 to keep the registry at the driver's 50-query cap — the operator
# stays verified by extent_pts + tests/test_spatial_ops.py)


@register("pip_holes")
def q_pip_holes(spark, sf_dir):
    """PIP join against the MULTI-RING zone layer (holes, MultiPolygon,
    nested hole+island — the reference's full geometry model,
    fiona/model.py:18-115).  The oracle recomputes even-odd parity over
    the nested ring lists in SQL, so a kernel that misclassifies
    hole-interior points fails the hash."""
    img, _ = _canon_paths()
    zmulti = fixtures.ensure_canon_multi()
    images = spark.read.parquet(img)
    zones = spark.read.parquet(zmulti)
    return spatial.pip_join(images, zones, res=6)


@register("wkb_decode")
def q_wkb_decode(spark, sf_dir):
    """WKB codec differential: decode the binary geometry column and
    recompute type/ring/vertex stats + quantized coordinate sums; the
    oracle reads the ground-truth columns the fixture generator derived
    from the SOURCE coordinates (fiona geometryRT discipline,
    `fiona/_geometry.pyx:374-380`)."""
    from . import wkb as wkbmod
    path = fixtures.ensure_canon_wkb()
    df = spark.read.parquet(path).select("gid", "wkb")
    dec = wkbmod.read_wkb(df)
    qsum = ("aggregate(flatten(transform({c}, r -> transform(r, "
            "v -> CAST(floor(v * 1000000.0) AS BIGINT)))), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    return dec.select(
        "gid", "geom_type",
        F.size("rings_xs").cast("long").alias("n_rings"),
        F.expr("aggregate(transform(rings_xs, r -> CAST(size(r) AS BIGINT)), "
               "CAST(0 AS BIGINT), (acc, v) -> acc + v)").alias("n_pts"),
        F.expr(qsum.format(c="rings_xs")).alias("qsum_x"),
        F.expr(qsum.format(c="rings_ys")).alias("qsum_y"))


def _wkb_oracle_sql() -> str:
    path = fixtures.ensure_canon_wkb()
    return f"""
SELECT gid, geom_type, n_rings, n_pts, qsum_x, qsum_y
FROM read_parquet('{path}')
"""


def _ray_crossings_sql(px: str, py: str, rxs: str, rys: str) -> str:
    """DuckDB crossings count for one ring — the same IEEE expression
    tree as geom.points_in_edges_packed (strict px < x-intersection,
    half-open (y0 > py) != (y1 > py) rule, closing edge via index wrap)."""
    y0, y1 = f"{rys}[i]", f"{rys}[(i % len({rys})) + 1]"
    x0, x1 = f"{rxs}[i]", f"{rxs}[(i % len({rxs})) + 1]"
    return (f"len(list_filter(range(1, len({rxs}) + 1), i -> "
            f"(({y0} > {py}) != ({y1} > {py})) AND "
            f"({px} < {x0} + ({py} - {y0}) / ({y1} - {y0}) * ({x1} - {x0}))))")


def _pip_holes_oracle_sql() -> str:
    img, _ = _canon_paths()
    zmulti = fixtures.ensure_canon_multi()
    cross = _ray_crossings_sql("p.lng", "p.lat",
                               "z.rings_xs[r]", "z.rings_ys[r]")
    return f"""
WITH p AS (SELECT image_id, lng, lat FROM read_parquet('{img}')),
z AS (SELECT zone_id, rings_xs, rings_ys FROM read_parquet('{zmulti}'))
SELECT p.image_id, z.zone_id
FROM p, z
WHERE (list_sum(list_transform(range(1, len(z.rings_xs) + 1),
        r -> {cross})) % 2) = 1
"""


def _late_oracles():
    img, zon = _canon_paths()
    ORACLES["pip_images"] = _canon_pip_sql()
    ORACLES["pip_holes"] = _pip_holes_oracle_sql()
    ORACLES["wkb_decode"] = _wkb_oracle_sql()
    dt_path = fixtures.ensure_canon_datetime()
    ORACLES["datetime_tz"] = f"""
SELECT rid, y, mo, dd, hh, mi, ss, us, tzm, tzc, gmt
FROM read_parquet('{dt_path}')
"""
    ORACLES["dissolve_comp"] = f"""
WITH RECURSIVE z AS (
  SELECT zone_id, list_min(xs) AS xmin, list_min(ys) AS ymin,
         list_max(xs) AS xmax, list_max(ys) AS ymax
  FROM read_parquet('{zon}')
), e AS (
  SELECT a.zone_id AS ida, b.zone_id AS idb
  FROM z a JOIN z b
    ON a.xmax >= b.xmin AND a.xmin <= b.xmax
   AND a.ymax >= b.ymin AND a.ymin <= b.ymax
), r(id, nb) AS (
  SELECT ida, idb FROM e
  UNION
  SELECT r.id, e.idb FROM r JOIN e ON r.nb = e.ida
)
SELECT component, CAST(count(*) AS BIGINT) AS n_members
FROM (SELECT id, min(nb) AS component FROM r GROUP BY id)
GROUP BY component
"""


# ===========================================================================
# 7. Payload verification, expression language, geometry measures,
#    dedup/LSH, raster->vector blocks (v4-v6 surface)
# ===========================================================================

# (dedup_exact_rows was a doc_id-only projection of the dedup_exact
# query below; retired in r3 for the 50-query cap — same operator, same
# oracle family, still covered by dedup_exact)


# -- LSH dedup queries: the engine runs its md5_60 hash family here (the
# -- one reproducible in ANSI SQL) so the ENTIRE pipeline — shingling,
# -- mod-P universal-hash permutations, banding, candidate join, exact
# -- verify — is recomputed independently by the DuckDB oracle from raw
# -- text.  The production xxhash64 default is covered by tests/test_dedup.

_DDB_HEX60 = ("list_reduce(list_transform("
              "string_split_regex(substr(md5({s}), 1, 15), ''), "
              "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
              "(a, b) -> a * 16 + b)")

_DOCS_PLANTED_CTE = """
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
"""


def _ddb_perm_min(j: int, a: int, b: int) -> str:
    """DuckDB min-aggregate of (a*x+b) mod P in overflow-safe limbs —
    the exact integer expression tree of dedup._perm_hash_col."""
    from .operators.dedup import _P
    lo30 = (1 << 30) - 1
    lo31 = (1 << 31) - 1
    y = f"(({a} * (x >> 31)) % {_P})"
    hi = f"((({y} >> 30) + (({y} & {lo30}) << 31)) % {_P})"
    h = f"(({hi} + {a} * (x & {lo31}) + {b}) % {_P})"
    return f"min({h}) AS m{j}"


def _minhash_oracle_sql(n_perm=64, bands=16, threshold=0.9, seed=42,
                        max_bucket=1000) -> str:
    from .operators import dedup
    a, b = dedup._perm_coeffs(n_perm, seed)
    min_aggs = ",\n       ".join(
        _ddb_perm_min(j, int(a[j]), int(b[j])) for j in range(n_perm))
    rows = n_perm // bands
    band_sel = "\nUNION ALL\n".join(
        f"SELECT doc_id, {bi} AS band, concat_ws('|', "
        + ", ".join(f"m{bi * rows + j}" for j in range(rows))
        + ") AS key FROM sig" for bi in range(bands))
    return f"""
WITH docs AS ({_DOCS_PLANTED_CTE}),
tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       FROM tok WHERE len(ws) >= 3),
hx AS (SELECT doc_id, shingle, {_DDB_HEX60.format(s='shingle')} AS x FROM sh),
sig AS (SELECT doc_id, {min_aggs} FROM hx GROUP BY doc_id),
banded AS ({band_sel}),
ok AS (SELECT band, key FROM banded GROUP BY band, key
       HAVING count(*) <= {max_bucket}),
bd AS (SELECT b.doc_id, b.band, b.key FROM banded b JOIN ok USING (band, key)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bd a JOIN bd b ON a.band = b.band AND a.key = b.key
                            AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS ninter
          FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                      JOIN sh sb ON sb.doc_id = c.id_b
                                AND sb.shingle = sa.shingle
          GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b,
       CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
             JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= {threshold}
"""


def _simhash_oracle_sql(max_dist=2, n_bits=60, band_bits=15) -> str:
    n_bands = n_bits // band_bits
    sums = ",\n       ".join(
        f"SUM(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(n_bits))
    hash_terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits))
    masks = [((1 << band_bits) - 1) << (b * band_bits) for b in range(n_bands)]
    band_sel = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band, simhash & {masks[b]} AS key FROM sh"
        for b in range(n_bands))
    return f"""
WITH docs AS ({_DOCS_PLANTED_CTE}),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs),
hx AS (SELECT doc_id, {_DDB_HEX60.format(s='t')} AS h FROM tok),
sums AS (SELECT doc_id, {sums} FROM hx GROUP BY doc_id),
sh AS (SELECT doc_id, {hash_terms} AS simhash FROM sums),
banded AS ({band_sel}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, a.simhash AS ha,
                b.doc_id AS id_b, b.simhash AS hb
         FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
                                    AND a.doc_id < b.doc_id)
SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_dist}
"""


def _ann_oracle_sql(k=10, dim=64, n_planes=64, band_bits=8, seed=7) -> str:
    from .operators import dedup
    planes = dedup.lsh_planes(dim, n_planes, seed)   # (dim, n_planes)
    plane_lists = "[" + ", ".join(
        "[" + ", ".join(str(int(v)) for v in planes[:, j]) + "]"
        for j in range(n_planes)) + "]"
    n_bands = n_planes // band_bits
    qz = "CAST(floor(CAST(e[i] AS DOUBLE) * 1000.0) AS BIGINT)"
    bits = (f"list_transform({plane_lists}, p -> "
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {qz} * p[CAST(i AS INT)])) > 0)")
    band_eq = " OR ".join(
        f"q.bits[{b * band_bits + 1}:{(b + 1) * band_bits}] = "
        f"c.bits[{b * band_bits + 1}:{(b + 1) * band_bits}]"
        for b in range(n_bands))
    return f"""
WITH sigs AS (SELECT vec_id, embedding AS e, {bits} AS bits FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe, bits FROM sigs WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, e AS ce, bits FROM sigs WHERE vec_id >= 5),
cand AS (SELECT q.qid, q.qe, c.cid, c.ce FROM q JOIN c ON ({band_eq})),
d AS (SELECT qid, cid,
             CAST(list_sum(list_transform(range(1, {dim + 1}),
               i -> CAST(floor(CAST(qe[i] AS DOUBLE) * 1000.0) AS BIGINT)
                  * CAST(floor(CAST(ce[i] AS DOUBLE) * 1000.0) AS BIGINT))) AS BIGINT) AS qdot
      FROM cand),
r AS (SELECT qid, cid, qdot,
             row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cid) AS rnk
      FROM d)
SELECT qid, cid, qdot, rnk FROM r WHERE rnk <= {k}
"""


@register("minhash_pairs")
def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs with planted duplicates, md5_60 hash
    family — the DuckDB oracle recomputes signatures, bands, candidates
    and exact Jaccard from raw text (full differential)."""
    from .operators import dedup
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 200")
    planted = docs.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + 1000000)
    return dedup.minhash_lsh_pairs(docs.unionByName(planted), threshold=0.9,
                                   hash_fn="md5_60", band_key="concat")


ORACLES["minhash_pairs"] = _minhash_oracle_sql()


@register("simhash_pairs", _simhash_oracle_sql())
def q_simhash_pairs(spark, sf_dir):
    """60-bit md5 SimHash near-dup pairs; oracle recomputes the banded
    Hamming pipeline from raw text."""
    from .operators import dedup
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 200")
    planted = docs.filter("doc_id < 20").withColumn(
        "doc_id", F.col("doc_id") + 1000000)
    return dedup.simhash_pairs(docs.unionByName(planted), max_dist=2,
                               hash_fn="md5_60")


def _embed_neardup_oracle_sql(dim=64, n_planes=64, band_bits=8, seed=7,
                              cos2_pct=81) -> str:
    from .operators import dedup
    planes = dedup.lsh_planes(dim, n_planes, seed)
    plane_lists = "[" + ", ".join(
        "[" + ", ".join(str(int(v)) for v in planes[:, j]) + "]"
        for j in range(n_planes)) + "]"
    n_bands = n_planes // band_bits
    qz = "CAST(floor(CAST(e[i] AS DOUBLE) * 1000.0) AS BIGINT)"
    bits = (f"list_transform({plane_lists}, p -> "
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {qz} * p[CAST(i AS INT)])) > 0)")
    band_eq = " OR ".join(
        f"a.bits[{b * band_bits + 1}:{(b + 1) * band_bits}] = "
        f"b.bits[{b * band_bits + 1}:{(b + 1) * band_bits}]"
        for b in range(n_bands))

    def dot(u, v):
        return (f"CAST(list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> CAST(floor(CAST({u}[i] AS DOUBLE) * 1000.0) AS BIGINT)"
                f" * CAST(floor(CAST({v}[i] AS DOUBLE) * 1000.0) AS BIGINT)))"
                f" AS BIGINT)")
    return f"""
WITH src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id < 20),
sigs AS (SELECT vec_id, embedding AS e, {bits} AS bits FROM src),
cand AS (SELECT a.vec_id AS id_a, a.e AS qe, b.vec_id AS id_b, b.e AS ce
         FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id AND ({band_eq})),
scored AS (SELECT id_a, id_b, {dot('qe', 'ce')} AS qdot,
                  {dot('qe', 'qe')} AS qaa, {dot('ce', 'ce')} AS qbb
           FROM cand)
SELECT id_a, id_b, qdot FROM scored
WHERE qdot > 0 AND qdot * qdot * 100 >= {cos2_pct} * qaa * qbb
"""


@register("embed_neardup", _embed_neardup_oracle_sql())
def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (planted duplicates), all-integer
    cosine^2 decision — the 5th dedup modality of the brief; oracle
    recomputes signatures, banding and the quantized test from the raw
    embedding arrays."""
    from .operators import dedup
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter("vec_id < 20").withColumn(
        "vec_id", F.col("vec_id") + 1000000)
    return dedup.embedding_neardup_pairs(emb.unionByName(planted))


@register("ann_lsh_topk", _ann_oracle_sql())
def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed approximate top-k (scale path of the
    brute-force embed_topk query).  Integer hyperplanes + quantized
    dot rerank make the whole pipeline bit-identical to the oracle."""
    from .operators import dedup
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 5")
    return dedup.ann_cosine_topk(emb.filter("vec_id >= 5"), q, k=10,
                                 rank_by="qdot").select("qid", "cid", "qdot", "rnk")


def _phash_band_mask(b: int, band_bits: int = 16) -> int:
    m = (((1 << band_bits) - 1) << (b * band_bits)) & 0xFFFFFFFFFFFFFFFF
    return m - (1 << 64) if m >= (1 << 63) else m


@register("phash_neardup")
def q_phash_neardup(spark, sf_dir):
    """Banded-LSH phash near-dup pairs on the canon images — the DuckDB
    oracle replicates candidate semantics exactly (shared 16-bit band)
    by brute force, so engine recall bugs surface as count mismatches."""
    from .operators import images as iops
    img, _ = _canon_paths()
    return iops.phash_hamming_pairs(spark.read.parquet(img), max_dist=10)


@register("snuggs_filter")
def q_snuggs_filter(spark, sf_dir):
    """s-expression filter compiled to Catalyst (fio filter parity)."""
    from . import snuggs
    _, zon = _canon_paths()
    zones = spark.read.parquet(zon)
    return snuggs.filter_features(
        zones, '(& (> (get f "AREA") 2) (< (vertex_count g) 20))'
    ).select("zone_id")


@register("buffer_props")
def q_buffer_props(spark, sf_dir):
    """Buffer / erosion / simplify under the driver contract (SURVEY
    §2.8 buffer row; reference GEOS buffer via `fiona/features.py:
    128-211`, simplify ibid.): for every canonical zone polygon the
    exact-construction buffer must satisfy the DEFINING properties —
    dilation grows net area and covers every original vertex, erosion
    shrinks net area and lands inside the original, Douglas-Peucker
    never adds vertices.  Distributed via one mapInPandas over the
    ring model; the oracle states the properties (all flags 1) per
    zone.  (snuggs_hof retired for this slot: the snuggs compiler
    stays driver-green via the still-registered snuggs_filter row.)"""
    _, zon = _canon_paths()
    zones = spark.read.parquet(zon).select("zone_id", "xs", "ys")
    schema = ("zone_id string, grow_ok long, cover_ok long, "
              "erode_ok long, erode_inside_ok long, simp_ok long")

    def props(it):
        from . import geom
        for pdf in it:
            rows = pdf.to_dict("records")
            out = {k: [] for k in ("zone_id", "grow_ok", "cover_ok",
                                   "erode_ok", "erode_inside_ok", "simp_ok")}
            for r in rows:
                xs = np.asarray(r["xs"], np.float64)
                ys = np.asarray(r["ys"], np.float64)
                a0 = abs(geom.shoelace_area(xs, ys))
                bx, by = geom.buffer_feature([xs], [ys], 0.02)
                anet = sum(geom.shoelace_area(np.asarray(rx), np.asarray(ry))
                           for rx, ry in zip(bx, by))
                ex, ey = geom.buffer_feature([xs], [ys], -0.02)
                enet = sum(geom.shoelace_area(np.asarray(rx), np.asarray(ry))
                           for rx, ry in zip(ex, ey)) if ex else 0.0
                er_in = all(
                    bool(np.all(geom.points_in_rings(
                        np.asarray(rx), np.asarray(ry), [xs], [ys])))
                    for rx, ry in zip(ex, ey)) if ex else True
                out["zone_id"].append(r["zone_id"])
                out["grow_ok"].append(int(anet > a0))
                out["cover_ok"].append(
                    int(bool(np.all(geom.points_in_rings(xs, ys, bx, by)))))
                out["erode_ok"].append(int(enet < a0))
                out["erode_inside_ok"].append(int(er_in))
                out["simp_ok"].append(
                    int(len(geom.douglas_peucker(xs, ys, 0.01)) <= len(xs)))
            yield pd.DataFrame(out)

    return zones.mapInPandas(props, schema)


@register("csv_source")
def q_csv_source(spark, sf_dir):
    """CSV driver + format-from-extension inference
    (`fiona/drvsupport.py:231-254` driver_from_extension parity)."""
    from .sources import drivers
    path = fixtures.ensure_canon_csv()
    df = drivers.open_dataset(spark, path)
    return (df.filter("WILDRNP020 % 3 = 0")
            .select("zone_id", "NAME", "AGBUR",
                    F.col("WILDRNP020").cast("long").alias("WILDRNP020")))


@register("geom_measures")
def q_geom_measures(spark, sf_dir):
    """Shoelace area + ring perimeter vs an independent SQL formulation
    (engine: numpy kernels; oracle: DuckDB list arithmetic), both
    rounded to 5 decimals to absorb summation-order ulps."""
    from .functions import geometry as gf
    from .schema import with_rings
    _, zon = _canon_paths()
    zones = with_rings(spark.read.parquet(zon))
    return zones.select(
        "zone_id",
        F.round(gf.area_udf()(*gf.RING_ARGS), 5).alias("area_r"),
        F.round(gf.length_udf()(*gf.RING_ARGS), 5).alias("perim_r"),
        gf.vertex_count().alias("nv"))


@register("caption_verify")
def q_caption_verify(spark, sf_dir):
    """input_hint caption-equality verification, planted mismatches on
    ids ending in 7 (differential: oracle states the expected flags)."""
    from .operators import images as iops
    img, _ = _canon_paths()
    images = spark.read.parquet(img)
    ref = images.withColumn(
        "caption", F.when(F.col("image_id").like("%7"), F.lit("CORRUPTED"))
        .otherwise(F.col("caption")))
    return iops.caption_check(images, ref)


@register("payload_verify")
def q_payload_verify(spark, sf_dir):
    """Decode round-trip gates per format: lossless exact, lossy
    PSNR>=40dB, stored phash == recomputed phash (input_hint)."""
    from .operators import images as iops
    img, _ = _canon_paths()
    out = iops.verify_roundtrip(spark.read.parquet(img))
    return (out.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("ok").cast("long")).alias("n_ok"),
                 F.sum(F.col("phash_match").cast("long")).alias("n_phash")))


@register("block_cells")
def q_block_cells(spark, sf_dir):
    """Raster->vector block tiling: per 8x8-pixel block, the containing
    cell at res 12.  The oracle recomputes every block's geolocation
    in SQL from (w, h, bbox) — full differential on the tiling math."""
    from .operators import spatial as sops
    img, _ = _canon_paths()
    images = spark.read.parquet(img).filter("image_id < 'img0000000300'")
    return sops.block_tiles(images, res=12, block=8).select(
        "image_id", "bx", "by", "cell")


def _late_oracles2():
    img, zon = _canon_paths()
    ORACLES["snuggs_filter"] = f"""
SELECT zone_id FROM read_parquet('{zon}') WHERE AREA > 2 AND len(xs) < 20
"""
    ORACLES["buffer_props"] = f"""
SELECT zone_id, CAST(1 AS BIGINT) AS grow_ok, CAST(1 AS BIGINT) AS cover_ok,
       CAST(1 AS BIGINT) AS erode_ok, CAST(1 AS BIGINT) AS erode_inside_ok,
       CAST(1 AS BIGINT) AS simp_ok
FROM read_parquet('{zon}')
"""
    shp_truth = fixtures.ensure_canon_shp_truth()
    _shp_truth_sql = f"""
SELECT zone_id, NAME, AGBUR, CAST(WILDRNP020 AS BIGINT) AS WILDRNP020,
       CAST(vi AS BIGINT) AS vi, x, y
FROM read_parquet('{shp_truth}')
"""
    ORACLES["shapefile_source"] = _shp_truth_sql
    # the zip:// hop must be byte-transparent: identical truth
    ORACLES["vfs_source"] = _shp_truth_sql
    # gpkg/fgb sinks copy coordinates as raw <f8 with no winding or
    # closure normalization, so the round-trip truth IS the canonical
    # zones parquet, unnested per vertex (bit-identical doubles).
    _vertex_truth = f"""
WITH z AS (SELECT zone_id, NAME, AGBUR, WILDRNP020, xs, ys
           FROM read_parquet('{zon}')),
e AS (SELECT zone_id, NAME, AGBUR, WILDRNP020, xs, ys,
             UNNEST(range(len(xs))) AS vi FROM z)
SELECT zone_id, NAME, AGBUR, CAST(WILDRNP020 AS BIGINT) AS WILDRNP020,
       CAST(vi AS BIGINT) AS vi, xs[vi + 1] AS x, ys[vi + 1] AS y
FROM e
"""
    ORACLES["gpkg_source"] = _vertex_truth
    ORACLES["fgb_source"] = _vertex_truth
    # PDS3 binary table: CHARACTER/MSB_INTEGER/IEEE_REAL round-trip is a
    # bit-exact pass-through of the source doubles (first ring vertex)
    fixtures.ensure_canon_pds()
    ORACLES["pds_source"] = f"""
SELECT zone_id, NAME, AGBUR, CAST(WILDRNP020 AS BIGINT) AS WILDRNP020,
       xs[1] AS x, ys[1] AS y
FROM read_parquet('{zon}')
"""
    gdb_truth = fixtures.ensure_canon_gdb_truth()
    ORACLES["openfilegdb_source"] = f"""
SELECT zone_id, NAME, AGBUR, CAST(WILDRNP020 AS BIGINT) AS WILDRNP020,
       CAST(vi AS BIGINT) AS vi, x, y
FROM read_parquet('{gdb_truth}')
"""
    csv_path = fixtures.ensure_canon_csv()
    ORACLES["csv_source"] = f"""
SELECT zone_id, NAME, AGBUR, CAST(WILDRNP020 AS BIGINT) AS WILDRNP020
FROM read_csv_auto('{csv_path}', header = true)
WHERE WILDRNP020 % 3 = 0
"""
    # shoelace with explicit ring closure; 1-based DuckDB list indexing
    shoelace = """0.5 * abs(list_sum(list_transform(range(1, len(xs)),
        i -> xs[i] * ys[i + 1] - xs[i + 1] * ys[i]))
        + xs[len(xs)] * ys[1] - xs[1] * ys[len(ys)])"""
    perim = """list_sum(list_transform(range(1, len(xs)),
        i -> sqrt((xs[i + 1] - xs[i]) * (xs[i + 1] - xs[i])
                + (ys[i + 1] - ys[i]) * (ys[i + 1] - ys[i]))))
        + sqrt((xs[1] - xs[len(xs)]) * (xs[1] - xs[len(xs)])
             + (ys[1] - ys[len(ys)]) * (ys[1] - ys[len(ys)]))"""
    ORACLES["geom_measures"] = f"""
SELECT zone_id, round({shoelace}, 5) AS area_r, round({perim}, 5) AS perim_r,
       len(xs) AS nv
FROM read_parquet('{zon}')
"""
    ORACLES["caption_verify"] = f"""
SELECT image_id, (image_id NOT LIKE '%7') AS caption_ok
FROM read_parquet('{img}')
"""
    ORACLES["payload_verify"] = f"""
SELECT fmt, count(*) AS n, count(*) AS n_ok, count(*) AS n_phash
FROM read_parquet('{img}') GROUP BY fmt
"""
    masks = ", ".join(str(_phash_band_mask(b)) for b in range(4))
    ORACLES["phash_neardup"] = f"""
WITH i AS (SELECT image_id, phash FROM read_parquet('{img}'))
SELECT a.image_id AS image_id, b.image_id AS image_id_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM i a JOIN i b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 10
  AND len(list_filter([{masks}], m -> (a.phash & m) = (b.phash & m))) > 0
"""
    # block tiling: identical float expression tree as the engine kernel
    cx = "(xmin + (CAST(bx AS DOUBLE) + 0.5) / nbx * (xmax - xmin))"
    cy = "(ymax - (CAST(\"by\" AS DOUBLE) + 0.5) / nby * (ymax - ymin))"
    ORACLES["block_cells"] = f"""
WITH i AS (
  SELECT image_id, w // 8 AS nbx, h // 8 AS nby, xmin, ymin, xmax, ymax
  FROM read_parquet('{img}') WHERE image_id < 'img0000000300'),
bx_t AS (SELECT *, unnest(range(0, nbx)) AS bx FROM i),
b2 AS (SELECT *, unnest(range(0, nby)) AS "by" FROM bx_t)
SELECT image_id, CAST(bx AS INTEGER) AS bx, CAST("by" AS INTEGER) AS "by",
       {cells.cell_id_sql(cx, cy, 12)} AS cell
FROM b2
"""


_late_oracles2()


# ===========================================================================
# 6. Text / dedup / similarity (training-data pipeline ops)
# ===========================================================================

@register("token_count", """
SELECT doc_id, length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
FROM documents
""")
def q_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1)
        .alias("n_tokens"))


@register("quality_score", """
SELECT doc_id,
       length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
       CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS n_the,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_word_len
FROM documents
""")
def q_quality_score(spark, sf_dir):
    """Text quality features via pure length arithmetic (identical in
    both engines; no tokenizer divergence possible)."""
    docs = _t(spark, sf_dir, "documents")
    no_sp = F.length(F.replace(F.col("text"), F.lit(" ")))
    n_tok = F.length("text") - no_sp + 1
    n_the = (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" the ")))) / 5
    return docs.select(
        "doc_id", n_tok.alias("n_tokens"),
        n_the.cast("long").alias("n_the"),
        (no_sp.cast("double") / n_tok).alias("avg_word_len"))


@register("langid_heur", """
SELECT doc_id,
       CASE WHEN (length(text) - length(replace(text, ' the ', ''))) / 5 >= 2
            THEN 'en-like' ELSE 'other' END AS lang_guess
FROM documents
""")
def q_langid_heur(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_the = (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" the ")))) / 5
    return docs.select(
        "doc_id",
        F.when(n_the >= 2, F.lit("en-like")).otherwise(F.lit("other")).alias("lang_guess"))


_WINNOW_K, _WINNOW_W = 8, 4

_WINNOW_ORACLE = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
g AS (SELECT doc_id,
        list_transform(range(1, length(text) - {_WINNOW_K - 1} + 1),
                       i -> substr(text, CAST(i AS INT), {_WINNOW_K})) AS grams
      FROM d WHERE length(text) >= {_WINNOW_K + _WINNOW_W - 1}),
h AS (SELECT doc_id,
        list_transform(grams, g -> {_DDB_HEX60.format(s='g')}) AS hs
      FROM g)
SELECT DISTINCT doc_id,
       unnest(list_transform(range(1, len(hs) - {_WINNOW_W - 1} + 1),
         i -> list_min(hs[CAST(i AS INT):CAST(i + {_WINNOW_W - 1} AS INT)]))) AS fp
FROM h
"""


@register("winnow_fp", _WINNOW_ORACLE)
def q_winnow_fp(spark, sf_dir):
    """Winnowing document fingerprints (rolling char k-gram hashes,
    window minima) — text-analysis fingerprinting; the oracle replays
    the scheme over the same md5_60 hashes in DuckDB list arithmetic."""
    from .operators import dedup
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    return dedup.winnow_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)


@register("dedup_exact", """
SELECT substr(text, 1, 30) AS k, min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY 1
""")
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content key: hash-groupBy, keep min id."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy(F.substring("text", 1, 30).alias("k"))
            .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_dups")))


@register("shingle_pairs", """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 150
),
sh AS (
  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM tok WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.ninter,
       CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS jaccard
FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
             JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.ninter >= 2
""")
def q_shingle_pairs(spark, sf_dir):
    """n-gram (word 3-shingle) Jaccard near-dup candidate pairs."""
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 150")
    tok = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(F.size("ws") >= 3)
    # CASE-guarded even though the filter above excludes short docs:
    # sequence(0, size-3) on size<3 throws at runtime if evaluated
    sh = tok.select(
        "doc_id",
        F.explode(F.expr(
            "CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws) - 3), "
            "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])) "
            "ELSE CAST(array() AS ARRAY<STRING>) END")).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a"); b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("ninter"))
             .filter(F.col("ninter") >= 2))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "ninter",
                    (F.col("ninter").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("ninter"))).alias("jaccard")))


@register("embed_topk", """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 5),
d AS (SELECT q.qid, c.cid,
             CAST(list_sum(list_transform(range(1, 65),
               i -> CAST(floor(CAST(q.qe[i] AS DOUBLE) * 1000.0) AS BIGINT)
                  * CAST(floor(CAST(c.ce[i] AS DOUBLE) * 1000.0) AS BIGINT))) AS BIGINT) AS qdot
      FROM q CROSS JOIN c),
r AS (SELECT qid, cid, qdot,
             row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cid) AS rnk
      FROM d)
SELECT qid, cid, qdot, rnk FROM r WHERE rnk <= 10
""")
def q_embed_topk(spark, sf_dir):
    """Brute-force similarity top-k over the embedding column.  The dot
    product is integer-quantized (floor(x*1000)) so the score — and
    therefore the ranking — is order-independent and bit-identical
    across engines; JVM-side zip_with/aggregate, no Python."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 5").select(F.col("vec_id").alias("qid"),
                                        F.col("embedding").alias("qe"))
    c = emb.filter("vec_id >= 5").select(F.col("vec_id").alias("cid"),
                                         F.col("embedding").alias("ce"))
    qdot = F.expr(
        "aggregate(zip_with(qe, ce, (x, y) -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)"
        " * CAST(floor(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    d = q.crossJoin(F.broadcast(c)).select("qid", "cid", qdot.alias("qdot"))
    w = Window.partitionBy("qid").orderBy(F.col("qdot").desc(), "cid")
    return (d.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10).select("qid", "cid", "qdot", "rnk"))


@register("datetime_tz")
def q_datetime_tz(spark, sf_dir):
    """RFC3339 timezone matrix (fiona/ogrext.pyx:480-547 + rfc3339.py):
    parse mixed-offset strings entirely JVM-side (regexp + integer
    arithmetic, zero Python), emit the reference's tuple fields, the
    OGR 15-minute tz code, and the GMT-normalized write form.  The
    oracle reads ground-truth columns the fixture generator derived
    from the SOURCE strings with an independent stdlib parser —
    including the quirks: trailing 'Z' = unknown zone, bare 2-digit
    offsets bind to minutes."""
    from .functions import datetime as dtf
    path = fixtures.ensure_canon_datetime()
    df = spark.read.parquet(path).select("rid", "dt_str")
    p = dtf.parse_datetime_parts(F.col("dt_str"))
    return df.select(
        "rid",
        p["y"].cast("long").alias("y"), p["m"].cast("long").alias("mo"),
        p["d"].cast("long").alias("dd"), p["hh"].cast("long").alias("hh"),
        p["mm"].cast("long").alias("mi"), p["ss"].cast("long").alias("ss"),
        p["us"].cast("long").alias("us"),
        p["tz_min"].cast("int").alias("tzm"),
        dtf.tz_code(p["tz_min"]).cast("long").alias("tzc"),
        dtf.format_gmt(p).alias("gmt"))


_late_oracles()
