"""Declared column types of the driver-side readers.

Every reader builds its frame against the types it declares: the ring
columns are exactly ``schema.RINGS_STRUCT`` (a row without geometry is
null, an EMPTY one is ``[]``) and each property column has the type its
format declares, also when no row holds a value.  No column of a read
frame is ``void``.
"""

import datetime as dt
import sqlite3
import struct

import pytest
from pyspark.sql import types as T

from fiona_spark.errors import DriverError
from fiona_spark.schema import RINGS_STRUCT, from_spark_schema
from fiona_spark.sources import (drivers, geopackage, gml, gpx, kml,
                                 mapinfo, ogr_gmt, shapefile, sqlite_db)

S, L, D, B = T.StringType(), T.LongType(), T.DoubleType(), T.BooleanType()
RING_TYPES = {**{f.name: f.dataType for f in RINGS_STRUCT.fields},
              "xs": T.ArrayType(D), "ys": T.ArrayType(D),
              "xmin": D, "ymin": D, "xmax": D, "ymax": D}


def assert_typed(df, props: dict):
    """Ring columns typed as ``RINGS_STRUCT`` (and its derivations),
    property columns exactly ``props`` (in order), no ``void``."""
    got = {f.name: f.dataType for f in df.schema.fields}
    assert {c: got[c] for c in RING_TYPES} == RING_TYPES
    assert [(c, t) for c, t in got.items()
            if c not in RING_TYPES and c != "fid"] == list(props.items())
    assert "void" not in df.schema.simpleString()


def _write(path, text):
    path.write_text(text)
    return str(path)


def test_kml_without_any_geometry(spark, tmp_path):
    p = _write(tmp_path / "nogeom.kml", (
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        "<Placemark><name>a</name></Placemark>"
        "<Placemark><name>b</name><description>d</description>"
        "<Point><coordinates></coordinates></Point></Placemark>"
        "</Document></kml>"))
    df = kml.read_kml(spark, p)
    assert_typed(df, {"name": S, "description": S})
    rows = df.orderBy("fid").collect()
    assert [r["name"] for r in rows] == ["a", "b"]
    assert [r["description"] for r in rows] == [None, "d"]
    assert all(r["rings_xs"] is None and r["xmin"] is None for r in rows)


def test_kml_empty_polygon(spark, tmp_path):
    p = _write(tmp_path / "empty.kml", (
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        "<Placemark><name>e</name><Polygon/></Placemark>"
        "</Document></kml>"))
    df = kml.read_kml(spark, p)
    assert_typed(df, {"name": S})
    r = df.first()
    assert r["geom_type"] == "Polygon"
    assert r["rings_xs"] == [] and r["rings_ys"] == []
    assert r["xs"] is None and r["xmin"] is None


def test_gml_member_without_geometry(spark, tmp_path):
    p = _write(tmp_path / "nogeom.gml", (
        '<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs" '
        'xmlns:ex="http://example.com/ex">'
        "<gml:featureMember xmlns:gml=\"http://www.opengis.net/gml\">"
        "<ex:f><ex:name>a</ex:name></ex:f></gml:featureMember>"
        "</wfs:FeatureCollection>"))
    df = gml.read_gml(spark, p)
    assert_typed(df, {"name": S})
    assert df.first()["rings_xs"] is None


def test_gpx_layers_keep_their_types_without_values(spark, tmp_path):
    bare = _write(tmp_path / "bare.gpx", (
        '<gpx xmlns="http://www.topografix.com/GPX/1/1">'
        '<wpt lat="1.5" lon="2.5"/>'
        '<trk><trkseg><trkpt lat="1.0" lon="2.0"/></trkseg></trk>'
        "</gpx>"))
    full = _write(tmp_path / "full.gpx", (
        '<gpx xmlns="http://www.topografix.com/GPX/1/1">'
        '<wpt lat="1.5" lon="2.5"><name>w</name><ele>12.5</ele>'
        "<time>2020-01-01T00:00:00Z</time></wpt>"
        '<trk><name>t</name><trkseg><trkpt lat="1.0" lon="2.0">'
        "<ele>3.5</ele><time>2020-01-01T00:00:00Z</time></trkpt>"
        "</trkseg></trk></gpx>"))
    want = {"waypoints": {"name": S, "ele": S, "time": S},
            "tracks": {"name": S},
            "track_points": {"track_fid": L, "track_seg_id": L,
                             "ele": D, "time": S}}
    for layer, props in want.items():
        for p in (bare, full):
            assert_typed(gpx.read_gpx(spark, p, layer), props)
    wpt = gpx.read_gpx(spark, bare, "waypoints")
    assert from_spark_schema(wpt.schema) == {
        "geometry": "Unknown",
        "properties": {"name": "str", "ele": "str", "time": "str"}}
    assert gpx.read_gpx(spark, full, "track_points").first()["ele"] == 3.5


MIF = """VERSION 300
DELIMITER ","
COLUMNS 2
  a Integer
  b Char(10)
DATA
POINT 1.0 2.0
NONE
"""


def test_mif_columns_without_mid(spark, tmp_path):
    df = mapinfo.read_mapinfo(spark, _write(tmp_path / "t.mif", MIF))
    assert_typed(df, {"a": L, "b": S})
    rows = df.orderBy("fid").collect()
    assert [r["a"] for r in rows] == [None, None]
    assert rows[0]["rings_xs"] == [[1.0]] and rows[1]["rings_xs"] is None
    # the declared Integer survives a write -> read with no value in it
    out = str(tmp_path / "back.mif")
    mapinfo.write_mapinfo(df, out)
    assert_typed(mapinfo.read_mapinfo(spark, out), {"a": L, "b": S})


GMT = """# @VGMT1.0 @GPOINT
# @Nn|s
# @Tinteger|string
# FEATURE_DATA
>
# @D|
1.0 2.0
"""


def test_gmt_types_without_values(spark, tmp_path):
    df = ogr_gmt.read_gmt(spark, _write(tmp_path / "t.gmt", GMT))
    assert_typed(df, {"n": L, "s": S})
    r = df.first()
    assert r["n"] is None and r["s"] is None and r["rings_xs"] == [[1.0]]
    out = str(tmp_path / "back.gmt")
    ogr_gmt.write_gmt(df, out)
    assert_typed(ogr_gmt.read_gmt(spark, out), {"n": L, "s": S})


def _dbf(path, fields, records):
    """dBase III file: ``fields`` (name, type, length, decimals),
    ``records`` fixed-width value strings, one per field."""
    head_size = 32 + 32 * len(fields) + 1
    rec_size = 1 + sum(f[2] for f in fields)
    out = struct.pack("<B3BiHH20x", 3, 126, 1, 1, len(records),
                      head_size, rec_size)
    for name, ftype, flen, fdec in fields:
        out += struct.pack("<11sc4xBB14x", name.encode(), ftype.encode(),
                           flen, fdec)
    out += b"\r"
    for rec in records:
        out += b" " + b"".join(v.encode().rjust(f[2])
                               for v, f in zip(rec, fields))
    path.write_bytes(out + b"\x1a")


DBF_FIELDS = [("N0", "N", 10, 0), ("N2", "N", 12, 2), ("F3", "F", 12, 3),
              ("L1", "L", 1, 0), ("D1", "D", 8, 0), ("C1", "C", 10, 0)]
DBF_TYPES = {"N0": L, "N2": D, "F3": D, "L1": B, "D1": T.DateType(),
             "C1": S}


def test_shapefile_dbf_declared_types(spark, tmp_path):
    base = tmp_path / "blank.shp"
    shapefile.write_shapefile(spark.createDataFrame(
        [("Point", [[1.0]], [[2.0]]), ("Point", [[3.0]], [[4.0]])],
        "geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>"), str(base))
    _dbf(tmp_path / "blank.dbf", DBF_FIELDS, [[""] * 6, [""] * 6])
    df = shapefile.read_shapefile(spark, str(base))
    assert_typed(df, DBF_TYPES)
    # blank values are null; a blank C field is the empty string
    assert {(k, v) for r in df.collect() for k, v in r.asDict().items()
            if k in DBF_TYPES} == {*((k, None) for k in DBF_TYPES
                                     if k != "C1"), ("C1", "")}
    # a file with values reads the same types
    _dbf(tmp_path / "blank.dbf", DBF_FIELDS,
         [["12", "3.25", "1.500", "T", "20200102", "abc"], [""] * 6])
    df = shapefile.read_shapefile(spark, str(base))
    assert_typed(df, DBF_TYPES)
    r = df.orderBy("fid").first()
    assert (r["N0"], r["N2"], r["F3"], r["L1"], r["D1"], r["C1"]) == \
        (12, 3.25, 1.5, True, dt.date(2020, 1, 2), "abc")


NULL_PROPS = ("n bigint, r double, s string, b binary")


@pytest.mark.parametrize("fmt", ["sqlite", "geopackage"])
def test_sqlite_all_null_columns_take_their_affinity(spark, tmp_path, fmt):
    df = spark.createDataFrame(
        [("Point", [[1.0]], [[2.0]], None, None, None, None)],
        "geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>, " + NULL_PROPS)
    p = str(tmp_path / f"t.{fmt}")
    if fmt == "sqlite":
        sqlite_db.write_sqlite(df, p, "layer")
        back = sqlite_db.read_sqlite(spark, p, "layer")
    else:
        geopackage.write_geopackage(df, p, "layer")
        back = geopackage.read_geopackage(spark, p, "layer")
    got = {f.name: f.dataType for f in back.schema.fields}
    assert {c: got[c] for c in ("n", "r", "s", "b")} == {
        "n": L, "r": D, "s": S, "b": T.BinaryType()}
    assert {c: got[c] for c in RING_TYPES} == RING_TYPES
    assert "void" not in back.schema.simpleString()
    assert back.first()["rings_xs"] == [[1.0]]


@pytest.mark.parametrize("fmt", ["sqlite", "geopackage"])
def test_sqlite_integer_column_reads_exact(spark, tmp_path, fmt):
    """An INTEGER column holding a NULL reads as bigint, past 2^53 too;
    a non-integer value in it raises, naming the column."""
    df = spark.createDataFrame(
        [("Point", [[1.0]], [[2.0]], v) for v in (1, None, 2**53 + 1)],
        "geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>, n bigint")
    p = str(tmp_path / f"t.{fmt}")
    if fmt == "sqlite":
        sqlite_db.write_sqlite(df, p, "layer")
        read, fid = sqlite_db.read_sqlite, "OGC_FID"
    else:
        geopackage.write_geopackage(df, p, "layer")
        read, fid = geopackage.read_geopackage, "fid"
    back = read(spark, p, "layer")
    assert back.schema["n"].dataType == L
    assert [r["n"] for r in back.orderBy(fid).collect()] == \
        [1, None, 2**53 + 1]
    with sqlite3.connect(p) as con:
        con.execute("UPDATE layer SET n = 1.5 WHERE n IS NULL")
    with pytest.raises(DriverError, match="layer.n"):
        read(spark, p, "layer")


def test_sqlite_affinity_of_hand_made_table(spark, tmp_path):
    """A table with no row holding a value (geometry included)."""
    p = str(tmp_path / "hand.sqlite")
    with sqlite3.connect(p) as con:
        con.execute("CREATE TABLE geometry_columns (f_table_name TEXT, "
                    "f_geometry_column TEXT)")
        con.execute("INSERT INTO geometry_columns VALUES ('t', 'GEOMETRY')")
        con.execute('CREATE TABLE t (OGC_FID INTEGER PRIMARY KEY, '
                    'GEOMETRY BLOB, n INTEGER, s VARCHAR(8), f FLOAT, '
                    'x NUMERIC)')
        con.execute("INSERT INTO t (OGC_FID) VALUES (1)")
    df = sqlite_db.read_sqlite(spark, p)
    assert_typed(df, {"OGC_FID": L, "n": L, "s": S, "f": D, "x": S})
    assert df.first()["rings_xs"] is None


def test_rows_frame_never_infers(spark):
    fields = {"fid": L, "v": D}
    df = drivers.rows_frame(spark, [{"fid": 0}], fields)
    assert_typed(df, {"v": D})
    with pytest.raises(ValueError, match="convert"):
        drivers.rows_frame(spark, [{"fid": 0, "v": "1.5"}], fields)
    # Arrow alone would truncate 1.5 to 1 in an integer column
    with pytest.raises(DriverError, match="'n'"):
        drivers.rows_frame(spark, [{"fid": 0, "n": 1.5}], {"fid": L, "n": L})
    assert drivers.rows_frame(spark, [{"fid": 0, "n": 2.0}],
                              {"fid": L, "n": L}).first()["n"] == 2


def test_rows_frame_naive_datetime_is_session_local(spark):
    """As Spark reads pandas: GPSTrackMaker's round trip relies on it."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = drivers.rows_frame(
            spark, [{"fid": 0, "t": dt.datetime(2020, 3, 24, 16, 8, 40)}],
            {"fid": L, "t": T.TimestampType()})
        assert df.selectExpr("cast(t as string)").first()[0] == \
            "2020-03-24 16:08:40"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
