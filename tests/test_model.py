"""Object-model parity (fiona/model.py contract: mapping access,
from_dict, __geo_interface__, decode_object) + ring-model converters."""

import json

import numpy as np
import pytest


def test_top_level_parity_helpers():
    """`fiona/__init__.py:68-79` __all__ surface: prop_width/prop_type
    and the model re-exports."""
    import fiona_spark as f
    assert f.prop_width("str:25") == 25
    assert f.prop_width("str") == 80
    assert f.prop_width("int") is None
    assert f.prop_type("int") is int
    assert f.prop_type("str:25") is str
    assert f.prop_type("float:24.5") is float
    assert f.prop_type("date") is str
    with pytest.raises(KeyError):
        f.prop_type("complex")
    from fiona_spark.model import Feature
    assert f.Feature is Feature and f.Geometry and f.Properties
    with pytest.raises(AttributeError):
        f.no_such_name

from fiona_spark import model


def test_geometry_mapping_and_geo_interface():
    g = model.Geometry(type="Point", coordinates=[1.0, 2.0])
    assert g["type"] == "Point" and g["coordinates"] == [1.0, 2.0]
    assert g.type == "Point"
    assert g.__geo_interface__ == {"type": "Point",
                                   "coordinates": [1.0, 2.0]}
    g2 = model.Geometry.from_dict({"type": "Point",
                                   "coordinates": [1.0, 2.0]})
    assert g == g2


def test_feature_from_dict_and_encoder():
    f = model.Feature.from_dict({
        "type": "Feature", "id": "7",
        "geometry": {"type": "LineString",
                     "coordinates": [[0, 0], [1, 1]]},
        "properties": {"name": "x", "v": 3}})
    assert f.id == "7" and f.properties["name"] == "x"
    assert f.type == "Feature"
    gi = f.__geo_interface__
    assert gi["geometry"]["type"] == "LineString"
    # encoder handles model objects + numpy scalars
    txt = json.dumps({"f": f, "n": np.int64(4)}, cls=model.ObjectEncoder)
    back = json.loads(txt)
    assert back["f"]["properties"]["v"] == 3 and back["n"] == 4


def test_object_encoder_spark_column_values():
    """The Python values of Spark date, timestamp, decimal and binary
    columns encode as ISO 8601, exact decimal text and base64."""
    import datetime
    import decimal

    from fiona_spark import model
    utc = datetime.timezone.utc
    vals = [datetime.date(2020, 1, 2),
            datetime.datetime(2020, 1, 2, 3, 4, 5, tzinfo=utc),
            decimal.Decimal("12345678901234567890.50"), b"ab"]
    assert json.loads(json.dumps(vals, cls=model.ObjectEncoder)) == [
        "2020-01-02", "2020-01-02T03:04:05+00:00",
        "12345678901234567890.50", "YWI="]


def test_decode_object_shapes():
    assert isinstance(model.decode_object(
        {"type": "Feature", "properties": {}}), model.Feature)
    assert isinstance(model.decode_object(
        {"type": "Polygon", "coordinates": []}), model.Geometry)
    assert model.decode_object({"a": 1}) == {"a": 1}


def test_ring_roundtrip_polygon_with_hole():
    geom_d = {"type": "Polygon",
              "coordinates": [[[0., 0.], [8., 0.], [8., 8.], [0., 8.]],
                              [[2., 2.], [2., 4.], [4., 4.], [4., 2.]]]}
    t, rxs, rys = model.rings_from_geometry(geom_d)
    assert t == "Polygon" and len(rxs) == 2
    back = model.geometry_from_rings(t, rxs, rys)
    assert back["coordinates"] == geom_d["coordinates"]


def test_multipolygon_part_grouping_reconstructed():
    """Flattened rings regroup into parts by nesting: two shells, one
    with a hole — the hole attaches to ITS shell, not the other."""
    mp = {"type": "MultiPolygon", "coordinates": [
        [[[0., 0.], [8., 0.], [8., 8.], [0., 8.]],
         [[2., 2.], [2., 4.], [4., 4.], [4., 2.]]],     # shell + hole
        [[[20., 0.], [24., 0.], [24., 4.], [20., 4.]]]]}  # plain shell
    t, rxs, rys = model.rings_from_geometry(mp)
    assert len(rxs) == 3
    back = model.geometry_from_rings(t, rxs, rys)
    parts = back["coordinates"]
    assert len(parts) == 2
    assert len(parts[0]) == 2 and len(parts[1]) == 1
    assert parts[0][1][0] == [2., 2.]


def test_row_feature_roundtrip(spark):
    from fiona_spark import fixtures
    zones = spark.createDataFrame(fixtures.gen_zones_pdf(3),
                                  schema=fixtures.ZONES_SCHEMA)
    row = zones.limit(1).collect()[0]
    f = model.row_to_feature(row, id_col="zone_id")
    assert f.geometry is not None and len(f.properties) > 0
    d = model.feature_to_row(f, id_col="zone_id")
    # the ring columns only: schema.with_ring_columns derives the rest
    assert d["rings_xs"] == [list(row["xs"])] and "xmin" not in d


def test_top_level_api(spark, tmp_path):
    """fiona.open/listlayers/remove/bounds parity at the package top
    level (fiona/__init__.py:91-659)."""
    import fiona_spark as fs
    assert fs.__version__
    assert "parquet" in fs.supported_drivers()
    p = str(tmp_path / "t.parquet")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    fs.open(spark, p, mode="w", df=df)
    back = fs.open(spark, p)
    assert back.count() == 1
    assert fs.bounds({"type": "Feature", "geometry": {
        "type": "LineString",
        "coordinates": [[0, 2], [4, -1]]}}) == (0.0, -1.0, 4.0, 2.0)
