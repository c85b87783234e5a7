"""ESRIJSON (Esri FeatureSet JSON) source — reference parity for the
read-only ESRIJSON row (`fiona/drvsupport.py:51` ``("ESRIJSON", "r")``).

An Esri FeatureSet is one JSON document::

    {"geometryType": "esriGeometryPolygon",
     "fields": [{"name": ..., "type": "esriFieldType..."}, ...],
     "features": [{"attributes": {...},
                   "geometry": {"rings": [[[x, y], ...], ...]}}, ...]}

Geometry kinds map to the engine ring model exactly as GDAL's
ESRIJSON driver maps them to OGC types:

* ``esriGeometryPoint``      (``x``/``y``)   -> Point
* ``esriGeometryMultipoint`` (``points``)    -> MultiPoint
* ``esriGeometryPolyline``   (``paths``)     -> MultiLineString
* ``esriGeometryPolygon``    (``rings``)     -> Polygon (the ring model
  is a flat even-odd ring set, so Esri's winding-grouped multi-part
  polygons need no part reconstruction)

Spark-first: ONE ``spark.read.json(multiLine)`` scan, all coordinate
reshaping in JVM ``transform``/``flatten`` expressions — no per-row
Python anywhere (same design as the GeoJSON collection reader,
`sources/geojson.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..errors import DriverError
from ..schema import with_ring_columns

_GEOM_KIND = {
    "esriGeometryPoint": "Point",
    "esriGeometryMultipoint": "MultiPoint",
    "esriGeometryPolyline": "MultiLineString",
    "esriGeometryPolygon": "Polygon",
}


def read_esrijson(spark, path: str) -> DataFrame:
    """Open an Esri FeatureSet document as a ring-model DataFrame."""
    js = spark.read.option("multiLine", "true").json(path)
    cols = set(js.columns)
    if "features" not in cols:
        raise DriverError(f"{path!r} is not an ESRIJSON FeatureSet "
                          "(no 'features' member)")
    gt_rows = (js.select("geometryType").limit(1).collect()
               if "geometryType" in cols else [])
    gtype = gt_rows[0][0] if gt_rows else None
    feats = js.select(F.posexplode("features").alias("fid", "f")).select(
        "fid", "f.*")
    fcols = {f.name: f.dataType for f in feats.schema.fields}
    if gtype is None and "geometry" in fcols:
        # geometryType is optional in the wild: sniff from the first
        # feature's geometry keys, the same fallback GDAL applies
        gfields = {f.name for f in fcols["geometry"].fields}
        gtype = ("esriGeometryPolygon" if "rings" in gfields else
                 "esriGeometryPolyline" if "paths" in gfields else
                 "esriGeometryMultipoint" if "points" in gfields else
                 "esriGeometryPoint" if "x" in gfields else None)
    if gtype not in _GEOM_KIND:
        raise DriverError(f"unsupported esri geometryType {gtype!r}")
    kind = _GEOM_KIND[gtype]
    if kind == "Point":
        rx = F.expr("array(array(CAST(geometry.x AS DOUBLE)))")
        ry = F.expr("array(array(CAST(geometry.y AS DOUBLE)))")
    elif kind == "MultiPoint":
        rx = F.expr("array(transform(geometry.points, c -> "
                    "CAST(c[0] AS DOUBLE)))")
        ry = F.expr("array(transform(geometry.points, c -> "
                    "CAST(c[1] AS DOUBLE)))")
    else:
        member = "rings" if kind == "Polygon" else "paths"
        rx = F.expr(f"transform(geometry.{member}, ring -> "
                    "transform(ring, c -> CAST(c[0] AS DOUBLE)))")
        ry = F.expr(f"transform(geometry.{member}, ring -> "
                    "transform(ring, c -> CAST(c[1] AS DOUBLE)))")
    sel = [F.col("fid").cast("long").alias("fid"),
           F.lit(kind).alias("geom_type"),
           rx.alias("rings_xs"), ry.alias("rings_ys")]
    if isinstance(fcols.get("attributes"), T.StructType):
        sel.append(F.col("attributes.*"))
    out = feats.select(*sel)
    return with_ring_columns(out)
