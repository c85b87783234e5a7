"""WKB codec: known-vector ground truth, round-trip matrix over all
geometry types (the reference's geometryRT discipline,
fiona/tests/test_geometry.py:38-150), and the Spark read path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fiona_spark import model, wkb

# Canonical little-endian WKB hex from the WKB spec (independent ground
# truth — not produced by this codec).
KNOWN = [
    # POINT (1 2)
    ("0101000000000000000000F03F0000000000000040",
     {"type": "Point", "coordinates": [1.0, 2.0]}),
    # LINESTRING (1 1, 2 2)
    ("010200000002000000000000000000F03F000000000000F03F"
     "00000000000000400000000000000040",
     {"type": "LineString", "coordinates": [[1.0, 1.0], [2.0, 2.0]]}),
    # POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))
    ("01030000000100000005000000"
     "00000000000000000000000000000000"
     "00000000000010400000000000000000"
     "00000000000010400000000000001040"
     "00000000000000000000000000001040"
     "00000000000000000000000000000000",
     {"type": "Polygon",
      "coordinates": [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0],
                       [0.0, 4.0], [0.0, 0.0]]]}),
]

RT_CASES = [
    {"type": "Point", "coordinates": [10.5, -3.25]},
    {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},          # 3D
    {"type": "LineString", "coordinates": [[0.0, 0.0], [1.5, 2.5], [3.0, -1.0]]},
    {"type": "Polygon", "coordinates": [
        [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
        [[1.0, 1.0], [1.0, 2.0], [2.0, 2.0], [2.0, 1.0], [1.0, 1.0]]]},
    {"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
    {"type": "MultiLineString", "coordinates": [
        [[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0], [4.0, 2.0]]]},
    {"type": "MultiPolygon", "coordinates": [
        [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]]],
        [[[5.0, 5.0], [7.0, 5.0], [7.0, 7.0], [5.0, 5.0]],
         [[5.5, 5.5], [6.0, 5.5], [6.0, 6.0], [5.5, 5.5]]]]},
]


@pytest.mark.parametrize("hexstr,want", KNOWN, ids=lambda v: str(v)[:12])
def test_decode_known_vectors(hexstr, want):
    if isinstance(hexstr, dict):
        pytest.skip("param pairing")
    got = wkb.decode(bytes.fromhex(hexstr))
    assert got == want


@pytest.mark.parametrize("hexstr,want", KNOWN, ids=lambda v: str(v)[:12])
def test_encode_matches_known_vectors(hexstr, want):
    assert wkb.encode(want).hex().upper() == hexstr.upper()


@pytest.mark.parametrize("g", RT_CASES, ids=lambda g: g["type"])
def test_roundtrip(g):
    assert wkb.decode(wkb.encode(g)) == g


def test_geometrycollection_roundtrip():
    g = {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [1.0, 2.0]},
        {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]}]}
    got = wkb.decode(wkb.encode(g))
    assert got["type"] == "GeometryCollection"
    assert got["coordinates"] == g["geometries"]


def test_big_endian_decode():
    # POINT (1 2) big-endian: byte order 0
    import struct
    buf = struct.pack(">BIdd", 0, 1, 1.0, 2.0)
    assert wkb.decode(buf) == {"type": "Point", "coordinates": [1.0, 2.0]}


def test_truncated_and_trailing_raise():
    good = wkb.encode({"type": "Point", "coordinates": [1.0, 2.0]})
    with pytest.raises(wkb.WKBError):
        wkb.decode(good[:-1])
    with pytest.raises(wkb.WKBError):
        wkb.decode(good + b"\x00")


_TRIANGLE = [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]
_NESTED = {
    "Polygon": {"type": "Polygon", "coordinates": [_TRIANGLE]},
    "MultiPolygon": {"type": "MultiPolygon", "coordinates": [[_TRIANGLE]]},
    "GeometryCollection": {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [1.0, 2.0]}]}}


@pytest.mark.parametrize("kind,k", [
    (kind, k) for kind, g in _NESTED.items()
    for k in range(len(wkb.encode(g)))])
def test_every_prefix_raises_wkb_error(kind, k):
    """Every strict prefix of a geometry with ring or part counts is a
    WKBError: a count read past the end raised struct.error."""
    with pytest.raises(wkb.WKBError):
        wkb.decode(wkb.encode(_NESTED[kind])[:k])


def test_to_rings_flattens_multipolygon():
    """read_wkb maps decoded WKB to rings with model.rings_from_geometry:
    MultiPolygon parts and holes flatten into one ring list."""
    t, xs, ys = model.rings_from_geometry(wkb.decode(wkb.encode(RT_CASES[-1])))
    assert t == "MultiPolygon"
    assert len(xs) == 3   # part1 shell, part2 shell, part2 hole
    assert xs[0][0] == 0.0 and xs[1][0] == 5.0


def test_read_wkb_null_empty_and_collection(spark):
    """read_wkb takes the ring path every reader takes: a null blob is
    a null geometry, EMPTY and GeometryCollection values decode, and
    malformed bytes still raise WKBError."""
    import pandas as pd
    gc = {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [1.0, 2.0]},
        {"type": "LineString", "coordinates": [[0.0, 0.0], [3.0, 1.0]]}]}
    blobs = [wkb.encode(gc), None,
             wkb.encode({"type": "LineString", "coordinates": []})]
    df = spark.createDataFrame(pd.DataFrame({"gid": [1, 2, 3], "wkb": blobs}),
                               "gid long, wkb binary")
    rows = {r["gid"]: r for r in wkb.read_wkb(df).collect()}
    assert rows[1]["geom_type"] == "GeometryCollection"
    assert rows[1]["rings_xs"] == [[1.0], [0.0, 3.0]] and rows[1]["xmax"] == 3.0
    assert rows[2]["geom_type"] is None and rows[2]["rings_xs"] is None
    assert rows[3]["geom_type"] == "LineString" and rows[3]["rings_xs"] == []
    assert rows[3]["xs"] is None and rows[3]["xmin"] is None
    bad = spark.createDataFrame([(1, blobs[0][:7])], "gid long, wkb binary")
    with pytest.raises(Exception, match="WKBError"):
        wkb.read_wkb(bad).collect()


def test_promote_multi():
    g = {"type": "Polygon", "coordinates": [[[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]]]}
    p = wkb.promote_multi(g)
    assert p["type"] == "MultiPolygon"
    assert p["coordinates"] == [g["coordinates"]]
    assert wkb.promote_multi(p) is p


def test_spark_read_wkb_and_pip(spark):
    """WKB column -> rings -> pip_join: external-format ingest feeds the
    multi-ring join directly."""
    import pandas as pd
    donut = {"type": "Polygon", "coordinates": [
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
        [[3.0, 3.0], [3.0, 7.0], [7.0, 7.0], [7.0, 3.0], [3.0, 3.0]]]}
    two = {"type": "MultiPolygon", "coordinates": [
        [[[20.0, 0.0], [24.0, 0.0], [24.0, 4.0], [20.0, 4.0], [20.0, 0.0]]],
        [[[30.0, 0.0], [34.0, 0.0], [34.0, 4.0], [30.0, 4.0], [30.0, 0.0]]]]}
    zdf = spark.createDataFrame(pd.DataFrame({
        "zone_id": ["donut", "two"],
        "wkb": [wkb.encode(donut), wkb.encode(two)]}))
    zones = wkb.read_wkb(zdf)
    got = zones.select("zone_id", "geom_type", F.size("rings_xs").alias("nr"),
                       "xmin", "xmax").toPandas().set_index("zone_id")
    assert got.loc["donut", "nr"] == 2 and got.loc["two", "nr"] == 2
    assert got.loc["two", "xmax"] == 34.0

    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": ["in_shell", "in_hole", "in_part2", "outside"],
        "lng": [1.0, 5.0, 31.0, 50.0],
        "lat": [1.0, 5.0, 1.0, 1.0]}))
    from fiona_spark.operators import spatial
    hits = spatial.pip_join(pts, zones, res=6).toPandas()
    keys = set(map(tuple, hits[["image_id", "zone_id"]].itertuples(index=False)))
    assert keys == {("in_shell", "donut"), ("in_part2", "two")}


# -- curve / surface / M normalization (r2 "what's missing" #2 + advice) ----

import struct


def _hdr(code, little=True):
    return struct.pack("<BI" if little else ">BI", 1 if little else 0, code)


def _pts(coords, little=True):
    arr = np.asarray(coords, dtype="<f8" if little else ">f8")
    return struct.pack("<I" if little else ">I", arr.shape[0]) + arr.tobytes()


def test_circularstring_linearizes_to_linestring():
    # half circle (0,0) -> (1,1) -> (2,0): center (1,0), r=1
    raw = _hdr(8) + _pts([[0, 0], [1, 1], [2, 0]])
    g = wkb.decode(raw)
    assert g["type"] == "LineString"
    c = np.asarray(g["coordinates"])
    assert np.allclose(c[0], [0, 0]) and np.allclose(c[-1], [2, 0])
    assert any(np.allclose(p, [1, 1]) for p in c)          # p1 kept exactly
    r = np.hypot(c[:, 0] - 1.0, c[:, 1])
    assert np.allclose(r, 1.0, atol=1e-9)                  # on the circle
    assert len(c) >= 180 / wkb.ARC_STEP_DEG                # densified
    assert (c[:, 1] >= -1e-9).all()                        # correct side


def test_circularstring_clockwise_and_collinear():
    cw = wkb.decode(_hdr(8) + _pts([[2, 0], [1, 1], [0, 0]]))
    c = np.asarray(cw["coordinates"])
    assert np.allclose(c[0], [2, 0]) and np.allclose(c[-1], [0, 0])
    assert (c[:, 1] >= -1e-9).all()
    col = wkb.decode(_hdr(8) + _pts([[0, 0], [1, 0], [2, 0]]))
    assert col["coordinates"] == [[0, 0], [1, 0], [2, 0]]


def test_compoundcurve_chains_members():
    # straight segment then a quarter-ish arc, chained end-to-start
    raw = (_hdr(9) + struct.pack("<I", 2)
           + _hdr(2) + _pts([[0, 0], [2, 0]])
           + _hdr(8) + _pts([[2, 0], [3, 1], [4, 0]]))
    g = wkb.decode(raw)
    assert g["type"] == "LineString"
    c = np.asarray(g["coordinates"])
    assert np.allclose(c[0], [0, 0]) and np.allclose(c[-1], [4, 0])
    # join vertex not duplicated
    assert (np.abs(np.diff(c, axis=0)).sum(axis=1) > 0).all()


def test_curvepolygon_becomes_polygon():
    ring = _hdr(8) + _pts([[0, 0], [1, 1], [2, 0], [1, -1], [0, 0]])
    raw = _hdr(10) + struct.pack("<I", 1) + ring
    g = wkb.decode(raw)
    assert g["type"] == "Polygon"
    c = np.asarray(g["coordinates"][0])
    assert np.allclose(c[0], c[-1])                        # closed ring
    r = np.hypot(c[:, 0] - 1.0, c[:, 1])
    assert np.allclose(r, 1.0, atol=1e-9)


def test_triangle_tin_polyhedralsurface_force_to_polygons():
    tri_body = struct.pack("<I", 1) + _pts([[0, 0], [1, 0], [0, 1], [0, 0]])
    tri = _hdr(17) + tri_body
    assert wkb.decode(tri)["type"] == "Polygon"
    tin = _hdr(16) + struct.pack("<I", 2) + tri + tri
    g = wkb.decode(tin)
    assert g["type"] == "MultiPolygon" and len(g["coordinates"]) == 2
    ps = _hdr(15) + struct.pack("<I", 1) + _hdr(3) + tri_body
    assert wkb.decode(ps)["type"] == "MultiPolygon"


def test_multicurve_multisurface():
    mc = _hdr(11) + struct.pack("<I", 2) \
        + _hdr(2) + _pts([[0, 0], [1, 1]]) \
        + _hdr(8) + _pts([[0, 0], [1, 1], [2, 0]])
    g = wkb.decode(mc)
    assert g["type"] == "MultiLineString" and len(g["coordinates"]) == 2
    ms = _hdr(12) + struct.pack("<I", 1) + _hdr(10) + struct.pack("<I", 1) \
        + _hdr(8) + _pts([[0, 0], [1, 1], [2, 0], [1, -1], [0, 0]])
    g = wkb.decode(ms)
    assert g["type"] == "MultiPolygon"


def test_m_and_zm_dimensions_aligned_not_garbage():
    # ISO PointM (2001): M parsed then dropped -> 2D
    raw = _hdr(2001) + np.asarray([1.0, 2.0, 99.0], "<f8").tobytes()
    assert wkb.decode(raw) == {"type": "Point", "coordinates": [1.0, 2.0]}
    # ISO LineStringZM (3002): -> 3D, M dropped
    raw = _hdr(3002) + _pts([[1, 2, 3, 99], [4, 5, 6, 99]])
    g = wkb.decode(raw)
    assert g == {"type": "LineString",
                 "coordinates": [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]}
    # OGR M flag (0x40000000): same normalization
    raw = _hdr(0x40000000 | 1) + np.asarray([7.0, 8.0, 99.0], "<f8").tobytes()
    assert wkb.decode(raw) == {"type": "Point", "coordinates": [7.0, 8.0]}
    # M inside a MultiPointM payload: coordinates stay aligned
    mp = _hdr(2004) + struct.pack("<I", 2) \
        + _hdr(2001) + np.asarray([1.0, 2.0, 9.0], "<f8").tobytes() \
        + _hdr(2001) + np.asarray([3.0, 4.0, 9.0], "<f8").tobytes()
    assert wkb.decode(mp) == {"type": "MultiPoint",
                              "coordinates": [[1.0, 2.0], [3.0, 4.0]]}


def test_circularstring_even_count_raises():
    with pytest.raises(wkb.WKBError):
        wkb.decode(_hdr(8) + _pts([[0, 0], [1, 1], [2, 0], [3, 1]]))
