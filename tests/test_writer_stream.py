"""Every file-writing driver over the one writer row stream
(``drivers.feature_rows``) and the one file sink (``drivers.atomic_file``).

Three checks per driver that writes single files or directories (the
Spark-native dataset writers are left out):

* a frame with only ``xs``/``ys`` is a one-ring Polygon
  (``schema.with_rings``): it reads back with the same rings, or the
  driver refuses Polygons with its own ``DriverError``;
* a null-geometry row keeps each format's own outcome;
* a write that fails mid-stream leaves neither the target nor a temp
  file (single-file sinks; SQLite/GeoPackage write inside a database
  file and GeoJSON through Spark's own output committer).
"""

import os

import pytest
from pyspark.sql import functions as F

from fiona_spark import model
from fiona_spark.errors import DriverError
from fiona_spark.schema import with_rings
from fiona_spark.sources import drivers

from .test_pgdump import _copy_rows, _decode_ewkb

SPARK_NATIVE = {"parquet", "orc", "csv", "json", "text", "iceberg_like"}
WRITERS = sorted(n for n, m in drivers.supported_drivers().items()
                 if "w" in m and n not in SPARK_NATIVE)

EXT = {"bna": ".bna", "dxf": ".dxf", "flatgeobuf": ".fgb",
       "geojson": ".geojson", "geojson_seq": ".geojsons", "geopackage":
       ".gpkg", "gml": ".gml", "gmt": ".gmt", "gpstrackmaker": ".gtm",
       "gpx": ".gpx", "kml": ".kml", "mapinfo": ".mif", "openfilegdb":
       ".gdb", "pgdump": ".sql", "shapefile": ".shp", "sqlite": ".sqlite"}
REFUSES_POLYGON = {"gpx", "gpstrackmaker"}
REFUSES_NULL = {"bna", "dxf"}
SKIPS_NULL = {"gpx", "gpstrackmaker"}        # the row is not written
NULL_AS_EMPTY = {"gmt"}                      # reads back as an EMPTY Point
NOT_ATOMIC = {"sqlite", "geopackage", "geojson", "geojson_seq"}

RINGS = ("geom_type string, rings_xs array<array<double>>, "
         "rings_ys array<array<double>>, name string")
POINT = ("Point", [[1.0]], [[2.0]])
NULL = (None, None, None)


def _read_back(spark, name, path):
    """(geom_type, rings_xs, rings_ys) per feature, in a fixed order."""
    if name == "pgdump":
        _hdr, rows = _copy_rows(open(path).read())
        geoms = [None if r[0] == "\\N" else _decode_ewkb(r[0])[1]
                 for r in rows]
        got = [NULL if g is None else tuple(model.rings_from_geometry(g))
               for g in geoms]
    else:
        df = drivers.open_dataset(spark, path, driver=name)
        got = [tuple(r) for r in
               df.select("geom_type", "rings_xs", "rings_ys").collect()]
    return sorted(got, key=repr)


@pytest.mark.parametrize("name", WRITERS)
def test_xs_only_frame_is_a_one_ring_polygon(spark, tmp_path, name):
    # clockwise closed rings: the shapefile winding, kept by every format
    frame = spark.createDataFrame(
        [("a", [0.0, 0.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0]),
         ("b", [2.0, 2.0, 3.0, 2.0], [0.0, 1.0, 1.0, 0.0])],
        "name string, xs array<double>, ys array<double>")
    path = str(tmp_path / ("t" + EXT[name]))
    if name in REFUSES_POLYGON:
        with pytest.raises(DriverError, match="Polygon"):
            drivers.write_dataset(frame, path, driver=name)
        return
    drivers.write_dataset(frame, path, driver=name)
    want = sorted((tuple(r) for r in with_rings(frame).select(
        "geom_type", "rings_xs", "rings_ys").collect()), key=repr)
    assert _read_back(spark, name, path) == want


@pytest.mark.parametrize("name", WRITERS)
def test_null_geometry_row_keeps_format_outcome(spark, tmp_path, name):
    frame = spark.createDataFrame([(*POINT, "a"), (*NULL, "b")], RINGS)
    path = str(tmp_path / ("t" + EXT[name]))
    if name in REFUSES_NULL:
        with pytest.raises(DriverError, match="null geometries"):
            drivers.write_dataset(frame, path, driver=name)
        return
    drivers.write_dataset(frame, path, driver=name)
    want = [POINT] if name in SKIPS_NULL else \
        [POINT, ("Point", [], []) if name in NULL_AS_EMPTY else NULL]
    assert _read_back(spark, name, path) == sorted(want, key=repr)


@pytest.mark.parametrize("name", sorted(set(WRITERS) - NOT_ATOMIC))
def test_failed_write_leaves_no_file(spark, tmp_path, name):
    # the second row fails inside the stream, after the first is encoded
    frame = spark.createDataFrame(spark.sparkContext.parallelize(
        [(*POINT, "a"), ("Point", [[3.0]], [[4.0]], "b")], 2), RINGS)
    failing = frame.withColumn("name", F.when(
        F.col("name") == "b", F.raise_error(F.lit("planted failure")))
        .otherwise(F.col("name")))
    path = str(tmp_path / ("t" + EXT[name]))
    with pytest.raises(Exception, match="planted failure"):
        drivers.write_dataset(failing, path, driver=name)
    assert os.listdir(tmp_path) == []
