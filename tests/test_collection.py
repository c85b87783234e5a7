"""`fiona.Collection` parity adapter tests (`fiona/collection.py:41-688`
surface over DataFrame-backed datasets)."""

import pytest

import fiona_spark
from fiona_spark.errors import DriverError
from fiona_spark.fixtures import ensure_canon_gpkg


@pytest.fixture(scope="module")
def gpkg(spark):
    return ensure_canon_gpkg(spark)


@pytest.fixture(scope="module")
def src(spark, gpkg):
    return fiona_spark.open_collection(spark, gpkg)


def test_introspection(src):
    assert src.driver == "geopackage"
    assert src.mode == "r"
    sch = src.schema
    assert sch["geometry"] == "Polygon"
    assert "NAME" in sch["properties"]
    assert "rings_xs" not in sch["properties"]
    b = src.bounds
    assert b[0] < b[2] and b[1] < b[3]
    assert src.crs.to_epsg() == 4326
    assert src.meta["driver"] == "geopackage"
    assert "open Collection" in repr(src)


def test_iteration_matches_len(src):
    feats = list(src)
    assert len(feats) == len(src) > 10
    f = feats[0]
    assert f["geometry"]["type"] == "Polygon"
    assert f["properties"]["NAME"]


def test_keys_items_values(src):
    ks = list(src.keys())
    assert len(ks) == len(src)
    k, feat = next(iter(src.items()))
    assert k == ks[0]
    assert feat["id"] == ks[0]
    assert next(iter(src.values()))["properties"] \
        == next(iter(src.filter()))["properties"]


def test_fid_access(src):
    ks = list(src.keys())
    assert ks[3] in src
    f = src[ks[3]]
    assert f["id"] == ks[3]
    assert src.get(ks[3])["properties"] == f["properties"]
    with pytest.raises(KeyError):
        src.get(-999)
    assert -999 not in src


def test_filter_bbox_where_slice(src):
    n = len(src)
    got = list(src.filter(bbox=(0, 40, 20, 50)))
    assert 0 < len(got) < n
    for f in got:
        b = fiona_spark.bounds(f)
        assert b[2] >= 0 and b[0] <= 20 and b[3] >= 40 and b[1] <= 50
    fs = list(src.filter(where="AGBUR = 'FS'"))
    assert fs and all(f["properties"]["AGBUR"] == "FS" for f in fs)
    assert len(list(src.filter(5))) == 5          # stop-only slice
    with pytest.raises(ValueError):
        list(src.filter(bbox=(0, 0, 1, 1),
                        mask={"type": "Polygon",
                              "coordinates": [[[0, 0], [1, 0], [1, 1]]]}))


def test_mask_envelope(src):
    mask = {"type": "Polygon",
            "coordinates": [[[0, 40], [20, 40], [20, 50], [0, 50],
                             [0, 40]]]}
    got = {f["id"] for f in src.filter(mask=mask)}
    want = {f["id"] for f in src.filter(bbox=(0, 40, 20, 50))}
    assert got == want


def test_write_mode_roundtrip(spark, src, tmp_path):
    out = str(tmp_path / "out.gpkg")
    feats = list(src.filter(4))
    schema = src.schema
    with fiona_spark.open_collection(spark, out, "w", schema=schema,
                                     driver="geopackage") as dst:
        dst.write(feats[0])
        dst.writerecords(feats[1:])
    assert dst.closed
    with pytest.raises(ValueError):
        len(dst)
    back = fiona_spark.open_collection(spark, out)
    assert len(back) == 4
    got = {f["properties"]["NAME"] for f in back}
    assert got == {f["properties"]["NAME"] for f in feats}


def test_multi_flush_readback(spark, src, tmp_path):
    """After several flushes, len()/bounds/iteration reflect the WHOLE
    dataset written so far, not just the last buffered batch (r5
    advice)."""
    out = str(tmp_path / "multi.gpkg")
    feats = list(src.filter(6))
    with fiona_spark.open_collection(spark, out, "w", schema=src.schema,
                                     driver="geopackage") as dst:
        dst.writerecords(feats[:2])
        dst.flush()
        assert len(dst) == 2
        dst.writerecords(feats[2:5])
        dst.flush()
        assert len(dst) == 5           # was 3 (last batch only) pre-fix
        dst.writerecords(feats[5:6])
    back = fiona_spark.open_collection(spark, out)
    assert len(back) == 6
    assert ({f["properties"]["NAME"] for f in back}
            == {f["properties"]["NAME"] for f in feats})


def test_writerecords_null_and_empty_geometry(spark, tmp_path):
    """A null and an EMPTY geometry write and read back through the
    GeoJSON driver.  Before, the writer re-derived the envelope in
    Python: TypeError on None, IndexError on POINT EMPTY."""
    out = str(tmp_path / "odd.geojson")
    schema = {"geometry": "Point", "properties": {"name": "str"}}
    feats = [
        {"type": "Feature", "id": "1", "properties": {"name": "a"},
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}},
        {"type": "Feature", "id": "2", "properties": {"name": "b"},
         "geometry": None},
        {"type": "Feature", "id": "3", "properties": {"name": "c"},
         "geometry": {"type": "Point", "coordinates": []}}]
    with fiona_spark.open_collection(spark, out, "w", schema=schema,
                                     driver="geojson") as dst:
        dst.writerecords(feats)
    back = {f["id"]: f for f in fiona_spark.open_collection(spark, out)}
    assert len(back) == 3
    assert back["1"]["geometry"]["coordinates"] == [1.0, 2.0]
    assert back["2"]["geometry"] is None
    assert back["3"]["geometry"]["type"] == "Point"
    assert back["3"]["geometry"]["coordinates"] == []
    assert {f["properties"]["name"] for f in back.values()} == {"a", "b", "c"}


def test_write_mode_guards(spark, src, tmp_path):
    with pytest.raises(ValueError):
        fiona_spark.open_collection(spark, "x.gpkg", "x")
    with pytest.raises(DriverError):
        fiona_spark.open_collection(spark, str(tmp_path / "w.gpkg"), "w")
    with pytest.raises(DriverError):
        src.write({"type": "Feature", "geometry": None, "properties": {}})


def test_env_context(spark):
    """`fiona.Env` parity (`fiona/env.py:64-307`): nestable option
    stack; credential options map to the public Hadoop S3A keys and
    restore exactly on exit."""
    from fiona_spark import env

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert not env.hasenv()
    with pytest.raises(RuntimeError):
        env.getenv()
    prev = hconf.get("fs.s3a.access.key")
    with env.Env(spark, AWS_ACCESS_KEY_ID="outer", CPL_DEBUG=True):
        assert env.hasenv()
        assert hconf.get("fs.s3a.access.key") == "outer"
        assert env.getenv()["CPL_DEBUG"] is True
        with env.Env(spark, AWS_ACCESS_KEY_ID="inner"):
            assert hconf.get("fs.s3a.access.key") == "inner"
            assert env.getenv()["CPL_DEBUG"] is True   # inherited
        assert hconf.get("fs.s3a.access.key") == "outer"
    assert hconf.get("fs.s3a.access.key") == prev
    assert not env.hasenv()
