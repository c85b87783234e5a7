"""Round-2 coverage operators: snuggs higher-order functions + kwargs,
CRS surface, driver registry (extension inference, encoding fallback),
MemoryFile/BytesCollection, zip-properties reduce, set_precision."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fiona_spark import crs as crsmod, io as iomod, snuggs
from fiona_spark.functions import geometry as gf
from fiona_spark.operators import aggregates
from fiona_spark.sources import drivers, iceberg_like

from .test_kernels import union_area


@pytest.fixture(scope="module")
def zdf(spark):
    return spark.createDataFrame(pd.DataFrame({
        "zone_id": ["a", "b", "c"],
        "xs": [[0.0, 10.0, 10.0], [1.0, 2.0, 3.0], [50.0, 60.0, 70.0]],
        "ys": [[0.0, 0.0, 10.0], [1.0, 1.0, 2.0], [0.0, 5.0, 0.0]],
        "AGBUR": ["FS", "blm", "FS"],
        "AREA": [10.0, 0.5, 25.0]}))


# -- snuggs higher-order functions (reference _vendor/snuggs.py:132-140) --

def test_snuggs_map_partial_reduce(spark, zdf):
    got = snuggs.filter_features(
        zdf, '(> (reduce + (map (partial * 2.0) xs) 0.0) 30.0)'
    ).select("zone_id").toPandas()
    # sum(2*xs): a=40, b=12, c=360 -> a and c pass
    assert sorted(got["zone_id"]) == ["a", "c"]


def test_snuggs_compose_and_builtins(spark, zdf):
    got = snuggs.filter_features(
        zdf, '(== ((compose upper) AGBUR) "FS")').select("zone_id").toPandas()
    assert sorted(got["zone_id"]) == ["a", "c"]
    got2 = snuggs.calc_feature(zdf, "tag", '(upper AGBUR)').toPandas()
    assert set(got2["tag"]) == {"FS", "BLM"}


def test_snuggs_itemgetter_attrgetter_methodcaller(spark, zdf):
    # first vertex x > 5 -> zone c only
    got = snuggs.filter_features(
        zdf, '(> ((itemgetter 0) xs) 5.0)').select("zone_id").toPandas()
    assert list(got["zone_id"]) == ["c"]
    got2 = snuggs.filter_features(
        zdf, '(== ((methodcaller "upper") AGBUR) "BLM")'
    ).select("zone_id").toPandas()
    assert list(got2["zone_id"]) == ["b"]


def test_snuggs_reduce_no_init_and_kwargs(spark, zdf):
    # reduce without init folds tail onto head, like functools.reduce
    out = snuggs.calc_feature(zdf, "sx", '(reduce + xs)').toPandas()
    assert out.set_index("zone_id")["sx"]["a"] == pytest.approx(20.0)
    # :kwarg form reaches constructive functions
    simp = snuggs.calc_feature(zdf, "g2", '(simplify g :tolerance 0.5)')
    row = simp.filter("zone_id = 'a'").select("g2").collect()[0]["g2"]
    assert len(row["rings_xs"][0]) >= 3
    snap = snuggs.calc_feature(zdf, "g3", '(set_precision g :grid_size 0.5)')
    row3 = snap.filter("zone_id = 'b'").select("g3").collect()[0]["g3"]
    assert row3["rings_xs"] == [[1.0, 2.0, 3.0]]


def test_snuggs_unknown_function_still_raises():
    with pytest.raises(snuggs.ExpressionError):
        snuggs.compile_expr("(frobnicate xs)")


# -- set_precision / recursive_round --------------------------------------

def test_set_precision_and_recursive_round(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "xs": [[1.234567, 2.71828]],
        "rings": [[[1.234567, 2.71828], [3.1415926, 0.1]]]}))
    out = df.select(
        gf.set_precision_expr(F.col("xs"), 0.25).alias("snap"),
        gf.recursive_round_expr(F.col("xs"), 2).alias("r1"),
        gf.recursive_round_expr(F.col("rings"), 3, depth=2).alias("r2"),
    ).collect()[0]
    assert out["snap"] == [1.25, 2.75]
    assert out["r1"] == [1.23, 2.72]
    assert out["r2"] == [[1.235, 2.718], [3.142, 0.1]]


# -- CRS (reference crs.pyx:56-852 subset) ---------------------------------

def test_crs_constructors_and_roundtrips():
    c = crsmod.CRS.from_epsg(4326)
    assert c.is_geographic and not c.is_projected
    assert c.to_epsg() == 4326
    assert c.to_authority() == ("EPSG", "4326")
    assert crsmod.CRS.from_wkt(c.to_wkt()) == c
    assert crsmod.CRS.from_user_input("epsg:4326") == c
    assert crsmod.CRS.from_user_input({"init": "epsg:4326"}) == c
    assert crsmod.CRS.from_user_input(c.to_proj4()) == c
    m = crsmod.CRS.from_epsg(6933)
    assert m.is_projected and m.linear_units == "metre"
    assert m != c
    with pytest.raises(crsmod.CRSError):
        crsmod.CRS.from_epsg(999999)
    with pytest.raises(AttributeError):
        c._code = 1   # immutable, like the reference cdef class


def test_crs_travels_with_iceberg_table(spark, tmp_path, zdf):
    path = str(tmp_path / "tbl")
    iceberg_like.write_table(zdf, path, crs="EPSG:4326")
    assert iceberg_like.table_crs(path) == crsmod.CRS.from_epsg(4326)
    iceberg_like.append_table(zdf, path)   # properties carry forward
    assert iceberg_like.table_crs(path) == crsmod.CRS.from_epsg(4326)


# -- driver registry -------------------------------------------------------

def test_driver_from_extension_and_unknown():
    assert drivers.driver_from_extension("/x/y.csv") == "csv"
    assert drivers.driver_from_extension("/x/y.geojson") == "geojson"
    assert drivers.driver_from_extension("/x/y.parquet") == "parquet"
    from fiona_spark.errors import DriverError
    assert drivers.driver_from_extension("/x/y.shp") == "shapefile"  # r4
    assert drivers.driver_from_extension("/x/y.fgb") == "flatgeobuf"  # r5
    with pytest.raises(DriverError):
        drivers.driver_from_extension("/x/y.nc")
    assert "csv" in drivers.supported_drivers()


def test_csv_roundtrip_with_extension_inference(spark, tmp_path):
    src = spark.createDataFrame(pd.DataFrame(
        {"gid": [1, 2, 3], "name": ["x", "y", "z"]}))
    p = str(tmp_path / "out.csv")
    drivers.write_dataset(src, p)
    back = drivers.open_dataset(spark, p)
    assert sorted((r["gid"], r["name"]) for r in back.collect()) == \
        [(1, "x"), (2, "y"), (3, "z")]


def test_csv_wkt_empty_geometries_read(spark, tmp_path):
    """An EMPTY geometry has no first ring and no envelope: the derived
    columns are null.  Indexing rings_xs[0] under ANSI failed the whole
    read with INVALID_ARRAY_INDEX."""
    p = tmp_path / "empty.csv"
    p.write_text('gid,wkt\n1,POINT (2 3)\n2,POINT EMPTY\n'
                 '3,LINESTRING EMPTY\n')
    rows = {r["gid"]: r for r in drivers.open_dataset(spark, str(p)).collect()}
    assert len(rows) == 3
    assert rows[1]["xs"] == [2.0] and rows[1]["ymax"] == 3.0
    for gid, t in ((2, "Point"), (3, "LineString")):
        assert rows[gid]["geom_type"] == t and rows[gid]["rings_xs"] == []
        assert all(rows[gid][c] is None
                   for c in ("xs", "ys", "xmin", "ymin", "xmax", "ymax"))


def test_encoding_fallback_iso_8859_1(spark, tmp_path):
    """Latin-1 bytes that are NOT valid UTF-8 must fall back, like the
    reference's shapefile rule (ogrext.pyx:940-983)."""
    p = tmp_path / "latin.csv"
    p.write_bytes("gid,name\n1,caf\xe9\n".encode("iso-8859-1"))
    assert drivers.detect_encoding(str(p)) == "ISO-8859-1"
    df = drivers.open_dataset(spark, str(p))
    assert df.collect()[0]["name"] == "caf\xe9"


# -- MemoryFile / BytesCollection (reference io.py:14-152) ------------------

def test_memoryfile_and_bytescollection(spark):
    fc = (b'{"type": "FeatureCollection", "features": ['
          b'{"type": "Feature", "id": "f1", "geometry": {"type": "Polygon",'
          b' "coordinates": [[[0.0, 0.0], [4.0, 0.0], [2.0, 3.0]]]},'
          b' "properties": {"NAME": "t"}}]}')
    with iomod.MemoryFile(fc, ext=".geojson") as mf:
        assert mf.exists()
        df = mf.open(spark)
        row = df.collect()[0]
        assert row["NAME"] == "t" and row["xs"] == [0.0, 4.0, 2.0]
    assert mf.closed
    with iomod.BytesCollection(fc) as bc:
        assert bc.open(spark).count() == 1


def test_zipmemoryfile(spark, tmp_path):
    import io as _io
    import zipfile
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("inner.csv", "gid,name\n7,zzz\n")
    with iomod.ZipMemoryFile(buf.getvalue()) as zmf:
        df = zmf.open(spark, "inner.csv")
        assert df.collect()[0]["gid"] == 7


# -- zip-properties reduce (fio/features.py:242-248) ------------------------

def test_reduce_zip_properties(spark, zdf):
    out = aggregates.reduce_zip_properties(
        zdf, ["AGBUR", "AREA"], order_by="zone_id").collect()[0]
    assert out["AGBUR"] == ["FS", "blm", "FS"]
    assert out["AREA"] == [10.0, 0.5, 25.0]
    assert out["n_features"] == 3
    assert out["xs_list"][0] == [0.0, 10.0, 10.0]


def test_dissolve_components_exact_for_disjoint(spark):
    """r1 missing #5: dissolve must not hull DISJOINT features together.

    Three disjoint squares + one overlapping pair: 4 components, the
    three singletons exact, the overlap pair hull-approximated."""
    sq = lambda cx, cy, r: ([cx - r, cx + r, cx + r, cx - r],
                            [cy - r, cy - r, cy + r, cy + r])
    rows = []
    for i, (cx, cy, r) in enumerate([(0, 0, 1), (10, 0, 1), (20, 0, 1),
                                     (30, 0, 1), (31, 0, 1)]):
        xs, ys = sq(cx, cy, r)
        rows.append({"fid": i, "xs": xs, "ys": ys})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = aggregates.dissolve_components(df, "fid").toPandas()
    assert len(out) == 4
    singles = out[out["n_members"] == 1]
    assert len(singles) == 3 and singles["exact"].all()
    merged = out[out["n_members"] == 2].iloc[0]
    # r3: overlapping squares with collinear shared top/bottom edges
    # dissolve EXACTLY now (boundary-fragment union, not the hull)
    assert merged["exact"]
    hx = merged["rings_xs"][0]
    assert min(hx) == 29.0 and max(hx) == 32.0
    assert union_area(merged["rings_xs"], merged["rings_ys"]) == 6.0


def test_driver_mode_gating(spark, tmp_path):
    """Per-driver mode capability gating (fiona/drvsupport.py:16-178 +
    the collection-open DriverError rule): geojson has no append mode,
    unknown drivers and modes raise."""
    import pytest

    from fiona_spark.errors import DriverError
    from fiona_spark.sources import drivers
    caps = drivers.supported_drivers()
    assert caps["parquet"] == "raw" and caps["geojson"] == "rw"
    with pytest.raises(DriverError, match="unsupported mode 'a'"):
        drivers.check_mode("geojson", "a")
    with pytest.raises(DriverError, match="unsupported driver"):
        drivers.check_mode("netcdf", "r")
    with pytest.raises(DriverError, match="unsupported mode"):
        drivers.check_mode("csv", "x")
    # append actually appends for an 'a'-capable driver
    src = spark.createDataFrame([(1, "x"), (2, "y")], "gid int, name string")
    p = str(tmp_path / "out.parquet")
    drivers.write_dataset(src, p)
    drivers.write_dataset(src, p, mode="a")
    assert drivers.open_dataset(spark, p).count() == 4
