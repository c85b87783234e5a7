"""Regression guards for the round-5 advice fixes.

Each test pins one defect from ADVICE.md r4:
  1. env.insp broke on every non-parquet format (hardcoded parquet read)
  2. write_shapefile ignored ESRI ring winding (shells CW, holes CCW)
  3. dbf numeric overflow silently truncated digits
  4. GPX routes layer must be LineString (only tracks are Multi)
  5. 'POINT EMPTY' crashed rings_from_geometry with IndexError
Plus the r4-verdict polish: hamming_pairs recall warning.
"""

import os
import struct
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. insp on non-parquet datasets
# ---------------------------------------------------------------------------

def test_insp_reads_non_parquet_head(spark, tmp_path):
    from fiona_spark.env import insp
    p = str(tmp_path / "pts.csv")
    with open(p, "w") as fh:
        fh.write("id,wkt\n1,POINT (2 3)\n2,POINT (4 5)\n")
    rec = insp(spark, p, n=1)
    assert rec["count"] == 2
    assert len(rec["head"]) == 1
    assert rec["head"][0]["id"] in (1, "1")


# ---------------------------------------------------------------------------
# 2. ESRI ring winding on write
# ---------------------------------------------------------------------------

def _ring_signed_area(pts):
    x, y = pts[:, 0], pts[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2


def _shp_rings(path):
    """Parse the first polygon record of a .shp into raw point rings."""
    with open(path, "rb") as fh:
        data = fh.read()
    body = data[108:]
    n_parts, n_pts = struct.unpack("<2i", body[36:44])
    parts = np.frombuffer(body, "<i4", n_parts, 44)
    pts = np.frombuffer(body, "<f8", 2 * n_pts,
                        44 + 4 * n_parts).reshape(n_pts, 2)
    bounds = np.append(parts, n_pts)
    return [pts[bounds[i]:bounds[i + 1]] for i in range(n_parts)]


def test_write_shapefile_enforces_esri_winding(spark, tmp_path):
    """Engine convention (shell CCW, hole CW) is EXACTLY inverted from
    the ESRI spec; the writer must re-wind so GDAL/fiona classify the
    shell as a shell."""
    from fiona_spark.sources.shapefile import read_shapefile, write_shapefile
    shell_ccw = ([0.0, 10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0, 0.0])
    hole_cw = ([2.0, 2.0, 5.0, 5.0, 2.0], [2.0, 5.0, 5.0, 2.0, 2.0])
    df = spark.createDataFrame(
        [(0, "Polygon", [shell_ccw[0], hole_cw[0]],
          [shell_ccw[1], hole_cw[1]], "a")],
        "fid long, geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>, name string")
    out = str(tmp_path / "wind.shp")
    write_shapefile(df, out)
    rings = _shp_rings(out)
    assert len(rings) == 2
    areas = sorted((_ring_signed_area(r) for r in rings), key=abs)
    # hole (smaller |area|) CCW => positive; shell CW => negative
    assert areas[0] > 0 and areas[1] < 0
    # round-trip through the engine reader still yields the same points
    back = read_shapefile(spark, out).select("rings_xs").first()
    assert sorted(map(len, back[0])) == [5, 5]


def test_dbf_numeric_overflow_raises(spark, tmp_path):
    from fiona_spark.errors import DriverError
    from fiona_spark.sources.shapefile import write_shapefile
    df = spark.createDataFrame(
        [(0, "Point", [[1.0]], [[1.0]], 1e30)],
        "fid long, geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>, big double")
    with pytest.raises(DriverError, match="exceeds dbf field width"):
        write_shapefile(df, str(tmp_path / "ovf.shp"))


# ---------------------------------------------------------------------------
# 4. GPX routes geometry type
# ---------------------------------------------------------------------------

def test_gpx_routes_are_linestring(spark, tmp_path):
    from fiona_spark.sources import gpx
    p = str(tmp_path / "r.gpx")
    with open(p, "w") as fh:
        fh.write(
            '<?xml version="1.0"?>\n'
            '<gpx xmlns="http://www.topografix.com/GPX/1/1">\n'
            '<rte><name>r1</name>'
            '<rtept lon="1.0" lat="2.0"/><rtept lon="3.0" lat="4.0"/>'
            '</rte></gpx>\n')
    df = gpx.read_gpx(spark, p, "routes")
    row = df.first()
    assert row["geom_type"] == "LineString"
    assert row["rings_xs"] == [[1.0, 3.0]]
    # tracks stay MultiLineString (reference GPX driver contract)
    ref = "/root/reference/tests/data/test_gpx.gpx"
    if os.path.exists(ref):
        assert gpx.read_gpx(spark, ref, "tracks").first()[
            "geom_type"] == "MultiLineString"


# ---------------------------------------------------------------------------
# 5. EMPTY geometries through the ring model
# ---------------------------------------------------------------------------

def test_point_empty_rings_do_not_crash():
    from fiona_spark import model, wkt
    g = wkt.decode("POINT EMPTY")
    t, rxs, rys = model.rings_from_geometry(g)
    assert t == "Point" and rxs == [] and rys == []
    t2, rxs2, _ = model.rings_from_geometry(
        {"type": "Polygon", "coordinates": []})
    assert t2 == "Polygon" and rxs2 == []


# ---------------------------------------------------------------------------
# hamming_pairs recall warning
# ---------------------------------------------------------------------------

def test_hamming_pairs_warns_past_pigeonhole_bound(spark):
    from fiona_spark.operators import dedup
    df = spark.createDataFrame([(1, 0), (2, 1)], "vid long, h long")
    with pytest.warns(RuntimeWarning, match="does not guarantee"):
        dedup.hamming_pairs(df, "vid", "h", max_dist=10, band_bits=16)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup.hamming_pairs(df, "vid", "h", max_dist=3, band_bits=16)
        dedup.hamming_pairs(df, "vid", "h", max_dist=10, band_bits=16,
                            warn_recall=False)


# ---------------------------------------------------------------------------
# tile_parent retired from the 50-query contract (slot given to
# shapefile_source) — its differential lives on here: deriving the
# coarse cell FROM the fine cell id must equal recomputing it from
# coordinates, on fuzzed points including the poles/antimeridian.
# ---------------------------------------------------------------------------

def test_cell_parent_matches_recompute_from_coords():
    from fiona_spark import cells
    rng = np.random.default_rng(5050)
    lng = np.concatenate([rng.uniform(-180, 180, 5000),
                          [-180.0, 179.999999, 0.0]])
    lat = np.concatenate([rng.uniform(-90, 90, 5000),
                          [89.999999, -90.0, 0.0]])
    for fine_res, coarse_res in ((12, 5), (12, 0), (7, 6)):
        fine = cells.cell_id(lng, lat, fine_res)
        derived_parent = cells.parent(fine, fine_res - coarse_res)
        recomputed = cells.cell_id(lng, lat, coarse_res)
        assert (derived_parent == recomputed).all()


# ---------------------------------------------------------------------------
# UTM transverse Mercator (r5, verdict ask #5): Krüger series on the
# WGS84 ellipsoid — the closed-form family covering EPSG:326xx/327xx
# that the reference reaches via PROJ (fiona/_transform.pyx:62-98).
# ---------------------------------------------------------------------------

def test_utm_meridian_arc_anchors():
    """Independent truth anchors: on the central meridian,
    N = k0 * meridian_arc(lat).  The WGS84 quarter meridian is the
    published 10001965.7293 m; the 45-deg arc is 4984944.378 m."""
    from fiona_spark import geom
    x, y = geom.to_utm(9.0, 90.0, 32)
    assert abs(float(x) - 500000.0) < 1e-6
    assert abs(float(y) - 0.9996 * 10001965.7293) < 1e-3
    x, y = geom.to_utm(9.0, 45.0, 32)
    assert abs(float(x) - 500000.0) < 1e-6
    assert abs(float(y) - 0.9996 * 4984944.378) < 5e-2
    # equator, east-west symmetry about the central meridian
    x1, _ = geom.to_utm(9.5, 0.0, 32)
    x2, _ = geom.to_utm(8.5, 0.0, 32)
    assert abs((float(x1) - 500000.0) - (500000.0 - float(x2))) < 1e-6


def test_utm_roundtrip_fuzz_all_zones():
    from fiona_spark import geom
    rng = np.random.default_rng(32633)
    for zone in (1, 18, 32, 33, 60):
        lon0 = geom.utm_zone_lon0(zone)
        lng = lon0 + rng.uniform(-4.5, 4.5, 4000)
        lat = rng.uniform(-84.0, 84.0, 4000)
        for north in (True, False):
            x, y = geom.to_utm(lng, lat, zone, north)
            lng2, lat2 = geom.from_utm(x, y, zone, north)
            assert np.abs(lng2 - lng).max() < 1e-9   # verdict gate
            assert np.abs(lat2 - lat).max() < 1e-9


def test_utm_crs_and_transform_udf(spark):
    from fiona_spark import crs as crsmod
    from fiona_spark.functions import geometry as gf
    c = crsmod.CRS.from_epsg(32618)
    assert c.is_projected and c.name == "WGS 84 / UTM zone 18N"
    assert crsmod.CRS.from_user_input(
        "+proj=utm +zone=18 +datum=WGS84 +units=m +no_defs") == c
    s = crsmod.CRS.from_epsg(32721)
    assert "21S" in s.name and "+south" in s.to_proj4()
    with pytest.raises(crsmod.CRSError):
        crsmod.CRS.from_epsg(32661)        # UPS, not UTM — still out

    df = spark.createDataFrame(
        [(0, -74.0, 40.7), (1, -75.5, 41.2)], "i long, lng double, lat double")
    u = gf.transform_udf("EPSG:4326", "EPSG:32618")
    out = df.select("i", u("lng", "lat").alias("p")).orderBy("i").collect()
    x0, y0 = out[0]["p"]["x"], out[0]["p"]["y"]
    # zone 18 central meridian is -75: -74 lands east of 500 km
    assert 500000.0 < x0 < 700000.0 and 4.4e6 < y0 < 4.6e6
    back = gf.transform_udf("EPSG:32618", "EPSG:4326")
    df2 = spark.createDataFrame([(float(x0), float(y0))], "x double, y double")
    r = df2.select(back("x", "y").alias("p")).first()["p"]
    assert abs(r["x"] - -74.0) < 1e-9 and abs(r["y"] - 40.7) < 1e-9
    # composed pair: UTM -> web mercator (through 4326)
    comp = gf.transform_udf("EPSG:32618", "EPSG:3857")
    r2 = df2.select(comp("x", "y").alias("p")).first()["p"]
    from fiona_spark import geom
    ex, ey = geom.to_3857(-74.0, 40.7)
    assert abs(r2["x"] - float(ex)) < 1e-6 and abs(r2["y"] - float(ey)) < 1e-6


# ---------------------------------------------------------------------------
# VFS URI schemes (r5, missing-list #6): zip://archive!member parity
# with fiona/vfs.py parse_paths + fiona.open over zipped datasets.
# ---------------------------------------------------------------------------

def test_vfs_parse_paths_reference_shapes():
    from fiona_spark import vfs
    assert vfs.parse_paths("zip://tests/data/c.zip!c.shp") == \
        ("c.shp", "zip", "tests/data/c.zip")
    assert vfs.parse_paths("zip:///abs/x.zip!a/b.shp") == \
        ("a/b.shp", "zip", "/abs/x.zip")
    assert vfs.parse_paths("/plain/path.shp") == ("/plain/path.shp",
                                                  None, None)
    assert vfs.parse_paths("file:///abs/p.csv")[1] == "file"
    assert vfs.parse_paths("s3://bucket/key.parquet")[1] == "s3"
    assert vfs.valid_vsi("zip") and vfs.valid_vsi("zip+file")
    assert not vfs.valid_vsi("frobnicate")
    assert vfs.is_remote("s3") and not vfs.is_remote("zip")


def _coutwildrnp_zip(spark, tmp_path) -> str:
    """The reference's coutwildrnp.zip shape, built in ``tmp_path``: 67
    polygons with NAME and AGBUR columns, written by the engine's
    shapefile writer and zipped with their sidecars."""
    import zipfile
    from fiona_spark.sources import shapefile
    rows = [("Polygon", [[i, i + 1.0, i + 1.0, i, i]],
             [[0.0, 0.0, 1.0, 1.0, 0.0]], f"wild {i}", "FS")
            for i in map(float, range(67))]
    shp_dir = tmp_path / "coutwildrnp"
    shp_dir.mkdir()
    shapefile.write_shapefile(spark.createDataFrame(
        rows, "geom_type string, rings_xs array<array<double>>, "
              "rings_ys array<array<double>>, NAME string, AGBUR string"),
        str(shp_dir / "coutwildrnp.shp"))
    archive = str(tmp_path / "coutwildrnp.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        for f in sorted(shp_dir.iterdir()):
            zf.write(f, arcname=f.name)
    return archive


def test_vfs_open_zipped_shapefile(spark, tmp_path):
    """The reference's canonical zip:// case: fiona.open over the
    zipped coutwildrnp shapefile, sidecars extracted alongside."""
    import fiona_spark as fs
    uri = f"zip://{_coutwildrnp_zip(spark, tmp_path)}!coutwildrnp.shp"
    df = fs.open(spark, uri)
    assert df.count() == 67
    assert "NAME" in df.columns and df.first()["geom_type"] == "Polygon"


def test_vfs_open_tar_and_gzip_members(spark, tmp_path):
    import gzip as _gz
    import tarfile
    from fiona_spark.sources import drivers
    csv_bytes = b"gid,name\n5,tarred\n"
    t = str(tmp_path / "a.tar")
    src = tmp_path / "m.csv"
    src.write_bytes(csv_bytes)
    with tarfile.open(t, "w") as tf:
        tf.add(str(src), arcname="m.csv")
    df = drivers.open_dataset(spark, f"tar://{t}!m.csv")
    assert df.first()["name"] == "tarred"
    g = str(tmp_path / "m2.csv.gz")
    with _gz.open(g, "wb") as fh:
        fh.write(csv_bytes)
    df2 = drivers.open_dataset(spark, f"gzip://{g}")
    assert df2.first()["gid"] == 5


def test_vfs_errors(tmp_path):
    import zipfile

    import pytest as _pytest
    from fiona_spark import vfs
    from fiona_spark.errors import DriverError
    with _pytest.raises(DriverError, match="no archive"):
        vfs.resolve("zip:///nope/missing.zip!a.shp")
    archive = str(tmp_path / "a.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.txt", "member")
    with _pytest.raises(DriverError, match="needs '!member'"):
        vfs.resolve(f"zip://{archive}")


# ---------------------------------------------------------------------------
# retired-slot coverage: bbox_where left the 50-query contract for
# gpkg_source (r5) — the composed bbox+where path keeps a differential
# here (bbox_filter and where_filter each still hold their own oracle
# rows; this pins their composition).
# ---------------------------------------------------------------------------

def test_bbox_where_composition_matches_eager(spark):
    from fiona_spark import fixtures
    from fiona_spark.operators import filters
    img_path, _ = fixtures.ensure_canon()
    pts = (spark.read.parquet(img_path)
           .select("image_id", "lng", "lat")
           .withColumn("xmin", F.col("lng") - 0.01)
           .withColumn("xmax", F.col("lng") + 0.01)
           .withColumn("ymin", F.col("lat") - 0.01)
           .withColumn("ymax", F.col("lat") + 0.01))
    bbox = (-20.0, -10.0, 40.0, 30.0)
    got = sorted(r["image_id"] for r in filters.filter_where(
        filters.filter_bbox(pts, bbox), "lng > 0.0").collect())
    pdf = pts.toPandas()
    keep = ((pdf.xmax >= bbox[0]) & (pdf.xmin <= bbox[2])
            & (pdf.ymax >= bbox[1]) & (pdf.ymin <= bbox[3])
            & (pdf.lng > 0.0))
    want = sorted(pdf.image_id[keep])
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# shuffled-PIP cogrouped lane (r5): rings must never ride candidate rows
# ---------------------------------------------------------------------------

def test_shuffled_pip_is_cogrouped_and_join_is_light(spark):
    """The past-guard lane's plan must contain the cogroup operator
    (FlatMapCoGroupsInArrow) and its equi-join must NOT carry ring
    arrays — the v1 rings-on-candidates plan shuffled |candidates| x
    |ring bytes| and measured 15x the fused lane at sf2."""
    from fiona_spark import fixtures
    from fiona_spark.operators import spatial
    img_path, zone_path = fixtures.ensure_canon()
    pts = spark.read.parquet(img_path).select("image_id", "lng", "lat")
    zones = spark.read.parquet(zone_path)
    df = spatial.pip_join(pts, zones, res=6, max_broadcast_zones=0)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, plan
    # the candidate equi-join output never references ring columns
    cand_join = join_lines[-1]          # innermost join = cell equi-join
    assert "xs" not in cand_join and "ys" not in cand_join, cand_join


# ---------------------------------------------------------------------------
# catalog.info / env.insp on iceberg_like table roots (r5)
# ---------------------------------------------------------------------------

def test_info_opens_iceberg_like_and_reports_crs(spark, tmp_path):
    """`fio info` on an iceberg_like table root must resolve the current
    snapshot (the manifest dir is not parquet data — spark.read.parquet
    on the root raises UNABLE_TO_INFER_SCHEMA) and surface the recorded
    table CRS; plain parquet defaults to EPSG:4326."""
    from fiona_spark.sources import catalog, drivers, iceberg_like

    df = spark.range(5).selectExpr(
        "id", "cast(id as double) as xmin", "cast(id as double) as ymin",
        "cast(id+1 as double) as xmax", "cast(id+1 as double) as ymax")
    tbl = str(tmp_path / "t")
    iceberg_like.write_table(df, tbl, crs="EPSG:32633")
    rec = catalog.info(spark, tbl)
    assert rec["crs"] == "EPSG:32633"
    assert rec["driver"]["driver"] == "iceberg_like"
    assert rec["count"] == 5 and rec["bounds"] == (0.0, 0.0, 5.0, 5.0)

    pq = str(tmp_path / "p.parquet")
    df.write.parquet(pq)
    assert catalog.info(spark, pq)["crs"] == "EPSG:4326"

    # registry surface: write + append + read through the generic API
    t3 = str(tmp_path / "t3")
    drivers.write_dataset(df, t3, driver="iceberg_like")
    drivers.write_dataset(df, t3, driver="iceberg_like", mode="a")
    assert drivers.open_dataset(spark, t3, driver="iceberg_like").count() == 10


# ---------------------------------------------------------------------------
# Python opener plugin (reference fiona.open(opener=) / _vsiopener.pyx)
# ---------------------------------------------------------------------------

def test_opener_io_open_geojson(spark, tmp_path):
    """io.open as opener, like the reference's test_opener_io_open."""
    import io as _io
    import json

    import fiona_spark as fs

    p = tmp_path / "g.geojson"
    p.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [{"type": "Feature",
                      "properties": {"name": "grenada"},
                      "geometry": {"type": "Point",
                                   "coordinates": [-61.7, 12.1]}}]}))
    df = fs.open(spark, str(p), opener=_io.open)
    assert df.count() == 1 and df.first()["name"] == "grenada"


class _ZipFS:
    """fsspec-zip-style opener: members resolve inside an archive."""

    def __init__(self, archive):
        self.archive = archive

    def open(self, path, mode="rb"):
        import io as _io
        import zipfile
        with zipfile.ZipFile(self.archive) as zf:
            return _io.BytesIO(zf.read(path.lstrip("/")))


def test_opener_zip_fs_shapefile(spark, tmp_path):
    """Zip-filesystem opener over the reference's zipped coutwildrnp
    shapefile (test_opener_fsspec_zip_fs shape): sidecars must be
    fetched through the same opener."""
    import fiona_spark as fs

    fsys = _ZipFS(_coutwildrnp_zip(spark, tmp_path))
    df = fs.open(spark, "coutwildrnp.shp", opener=fsys)
    assert df.count() == 67
    assert "AGBUR" in df.columns and df.first()["geom_type"] == "Polygon"


def test_opener_write_roundtrip(spark, tmp_path):
    """Write mode publishes the single-file dataset (and sidecars)
    back through the opener (reference test_opener_fsspec_fs_write)."""
    import io as _io

    import fiona_spark as fs

    df = spark.createDataFrame(
        [("a", [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0], 7)],
        "zone_id string, xs array<double>, ys array<double>, v long")
    out = tmp_path / "sub" / "z.shp"
    out.parent.mkdir()
    fs.open(spark, str(out), mode="w", df=df, opener=_io.open)
    back = fs.open(spark, str(out), opener=_io.open)
    assert back.count() == 1 and back.first()["zone_id"] == "a"


def test_compound_crs_resolves_horizontal():
    """COMPD_CS WKT must not crash and must resolve to the horizontal
    member (reference tests/test_compound_crs.py)."""
    from fiona_spark.crs import CRS

    w = ('COMPD_CS["unknown",GEOGCS["WGS 84",DATUM["WGS_1984",'
         'SPHEROID["WGS 84",6378137,298.257223563,'
         'AUTHORITY["EPSG","7030"]],TOWGS84[0,0,0,0,0,0,0],'
         'AUTHORITY["EPSG","6326"]],PRIMEM["Greenwich",0],'
         'UNIT["degree",0.0174532925199433],AUTHORITY["EPSG","4326"]],'
         'VERT_CS["unknown",VERT_DATUM["unknown",2005],'
         'UNIT["metre",1.0,AUTHORITY["EPSG","9001"]],AXIS["Up",UP]]]')
    c = CRS.from_wkt(w)
    assert isinstance(c, CRS) and c.to_epsg() == 4326
