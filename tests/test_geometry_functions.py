"""Feature-level geometry functions (`functions.geometry`) against a
plain numpy reference kept here: area, length and centroid of whole
features (holes subtract, every part counts, lines are open), null and
EMPTY rows, and one transform body for driver and executor."""

import numpy as np
import pytest

from fiona_spark import geom, snuggs, transform
from fiona_spark.functions import geometry as gf
from fiona_spark.model import geometry_from_rings
from fiona_spark.sources import drivers

from .test_kernels import union_area

RINGS = ("geom_type string, rings_xs array<array<double>>, "
         "rings_ys array<array<double>>")

SQUARE_HOLE = ("Polygon", [[0., 10., 10., 0., 0.], [4., 6., 6., 4., 4.]],
               [[0., 0., 10., 10., 0.], [4., 4., 6., 6., 4.]])
SHAPES = {
    "holed": SQUARE_HOLE,
    # two parts, the first holed; rings left open
    "multi": ("MultiPolygon",
              [[0., 10., 10., 0.], [4., 6., 6., 4.], [20., 23., 23., 20.]],
              [[0., 0., 10., 10.], [4., 4., 6., 6.], [0., 0., 2., 2.]]),
    "line": ("LineString", [[0., 3., 3.]], [[0., 0., 4.]]),
    "mline": ("MultiLineString", [[0., 1.], [5., 5.]], [[0., 0.], [0., 2.]]),
    "mpoint": ("MultiPoint", [[0., 2., 4.]], [[0., 2., 1.]]),
    "empty": ("Polygon", [], []),
    "null": (None, None, None),
}


def _inside(px, py, xs, ys):
    """Even-odd ray cast of one point against one closed ring."""
    hit = False
    for i in range(len(xs) - 1):
        x0, y0, x1, y1 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        if (y0 > py) != (y1 > py) and \
                px < x0 + (py - y0) * (x1 - x0) / (y1 - y0):
            hit = not hit
    return hit


def _reference(gtype, rings_xs, rings_ys):
    """(area, length, cx, cy) of one feature, one ring at a time."""
    if rings_xs is None:
        return None
    rings = []
    for rx, ry in zip(rings_xs, rings_ys):
        x, y = np.asarray(rx, float), np.asarray(ry, float)
        if gtype not in ("LineString", "MultiLineString", "Point",
                         "MultiPoint") and len(x) and \
                (x[0] != x[-1] or y[0] != y[-1]):
            x, y = np.append(x, x[0]), np.append(y, y[0])
        rings.append((x, y))
    if not rings:
        return 0.0, 0.0, None, None
    if gtype in ("Point", "MultiPoint"):
        x = np.concatenate([r[0] for r in rings])
        y = np.concatenate([r[1] for r in rings])
        return 0.0, 0.0, x.mean(), y.mean()
    if gtype in ("LineString", "MultiLineString"):
        ln = mx = my = 0.0
        for x, y in rings:
            seg = np.hypot(np.diff(x), np.diff(y))
            ln += seg.sum()
            mx += (seg * (x[:-1] + x[1:]) / 2).sum()
            my += (seg * (y[:-1] + y[1:]) / 2).sum()
        return 0.0, ln, mx / ln, my / ln
    area = ln = mx = my = 0.0
    for i, (x, y) in enumerate(rings):
        depth = sum(_inside(x[0], y[0], *rings[j])
                    for j in range(len(rings)) if j != i)
        cross = x[:-1] * y[1:] - x[1:] * y[:-1]
        a = cross.sum() / 2                       # signed ring area
        s = (-1) ** depth * np.sign(a)
        area += s * a
        mx += s * ((x[:-1] + x[1:]) * cross).sum() / 6
        my += s * ((y[:-1] + y[1:]) * cross).sum() / 6
        ln += np.hypot(np.diff(x), np.diff(y)).sum()
    return area, ln, mx / area, my / area


@pytest.fixture(scope="module")
def shapes(spark):
    return spark.createDataFrame(
        [(k, *v) for k, v in SHAPES.items()], "k string, " + RINGS)


def test_feature_measures_match_numpy_reference(shapes):
    got = {r["k"]: r for r in shapes.select(
        "k", gf.area_udf()(*gf.RING_ARGS).alias("a"),
        gf.length_udf()(*gf.RING_ARGS).alias("l"),
        gf.centroid_udf()(*gf.RING_ARGS).alias("c"),
        gf.vertex_count().alias("nv")).collect()}
    for k, (t, rx, ry) in SHAPES.items():
        want, row = _reference(t, rx, ry), got[k]
        if want is None:                        # null geometry: null row
            assert row["a"] is None and row["l"] is None
            assert row["c"] is None and row["nv"] is None
            continue
        assert row["a"] == pytest.approx(want[0], abs=1e-12), k
        assert row["l"] == pytest.approx(want[1], abs=1e-12), k
        if want[2] is None:                     # EMPTY: no centroid
            assert row["c"] is None, k
        else:
            assert (row["c"]["cx"], row["c"]["cy"]) == pytest.approx(
                want[2:], abs=1e-12), k
        assert row["nv"] == sum(len(r) for r in rx), k
    # the named figures
    assert got["holed"]["a"] == 96.0 and got["multi"]["a"] == 96.0 + 6.0
    assert got["line"]["l"] == 7.0 and got["line"]["a"] == 0.0


def test_snuggs_area_subtracts_holes(spark):
    df = spark.createDataFrame([("sq", *SQUARE_HOLE)], "zone_id string, "
                               + RINGS)
    assert snuggs.filter_features(df, "(> (area g) 99)").count() == 0
    assert snuggs.filter_features(df, "(> (area g) 95)").count() == 1


def test_one_ring_adapter_keeps_first_ring_frames(spark):
    """A frame with only xs/ys reads as one Polygon ring per row, and
    snuggs hands back the input's columns."""
    df = spark.createDataFrame(
        [("a", [0., 4., 4., 0.], [0., 0., 3., 3.])],
        "zone_id string, xs array<double>, ys array<double>")
    out = snuggs.calc_feature(df, "a", "(area g)")
    assert out.columns == ["zone_id", "xs", "ys", "a"]
    assert out.first()["a"] == 12.0


def test_reproject_rings_null_and_empty_rows(spark, tmp_path):
    """An undecodable WKT value is a null geometry: it stays a null row,
    and an EMPTY one an EMPTY row, where the job used to fail."""
    p = tmp_path / "bad.csv"
    p.write_text('gid,wkt\n1,POINT (2 3)\n2,NOT A GEOMETRY\n3,POLYGON EMPTY\n')
    df = drivers.open_dataset(spark, str(p))
    rows = {r["gid"]: r for r in
            gf.reproject_rings(df, "EPSG:4326", "EPSG:3857").collect()}
    assert rows[2]["rings_xs"] is None and rows[2]["xs"] is None
    assert rows[3]["rings_xs"] == [] and rows[3]["geom_type"] == "Polygon"
    x, y = geom.to_3857(np.array([2.0]), np.array([3.0]))
    assert rows[1]["rings_xs"] == [[x[0]]] and rows[1]["ymax"] == y[0]


def test_executor_cut_matches_driver(spark):
    """transform_geom_udf and transform.transform_geom run one body: a
    cut Polygon or LineString becomes Multi*, a Point past 180 keeps
    its vertex, and both give the same coordinates."""
    lng = np.array([175.0, 185.0, 185.0, 175.0])
    lat = np.array([-3.0, -3.0, 3.0, 3.0])
    px, py = geom.to_3857(lng, lat)
    lx, ly = geom.to_3857(np.array([170.0, 190.0, 190.0]),
                          np.array([0.0, 0.0, 5.0]))
    pt = 1.02 * 20037508.342789244
    assert geom.from_3857(np.array([pt]), np.array([0.0]))[0][0] > 180.0
    feats = [("Polygon", [px.tolist()], [py.tolist()]),
             ("LineString", [lx.tolist()], [ly.tolist()]),
             ("Point", [[pt]], [[0.0]])]
    df = spark.createDataFrame(feats, RINGS)
    got = gf.reproject_rings(df, "EPSG:3857", "EPSG:4326",
                             antimeridian_cutting=True).collect()
    for (t, rx, ry), row in zip(feats, got):
        ring = [list(p) for p in zip(rx[0], ry[0])]
        coords = {"Point": ring[0], "LineString": ring,
                  "Polygon": [ring]}[t]
        want = transform.transform_geom(
            "EPSG:3857", "EPSG:4326", {"type": t, "coordinates": coords},
            antimeridian_cutting=True)
        have = geometry_from_rings(row["geom_type"], row["rings_xs"],
                                   row["rings_ys"])
        assert have["type"] == want["type"]
        assert _flat(have["coordinates"]) == _flat(want["coordinates"])
    assert [r["geom_type"] for r in got] == ["MultiPolygon",
                                             "MultiLineString", "Point"]
    assert len(got[0]["rings_xs"]) == 2 and got[2]["rings_xs"][0][0] > 180


def test_line_cut_at_dateline_stays_open():
    """A line across +-180 splits into open runs: no closing segment
    along the meridian, a vertex on the meridian is not doubled, and a
    line that crosses back gives three runs in traversal order.  A
    polygon ring is still clipped closed."""
    g = transform.transform_geom(
        "EPSG:4326", "EPSG:4326",
        {"type": "LineString", "coordinates": [[170, 0], [190, 0]]},
        antimeridian_cutting=True)
    assert g["type"] == "MultiLineString"
    assert g["coordinates"] == [[[170, 0], [180, 0]], [[-180, 0], [-170, 0]]]
    xs, ys, cut = geom.cut_dateline_rings(
        [[170., 180., 190., 170.], [-170., -190.]],
        [[0., 0., 0., 2.], [1., 1.]], closed=False)
    assert cut
    assert [list(zip(x, y)) for x, y in zip(xs, ys)] == [
        [(170, 0), (180, 0)], [(-180, 0), (-170, 0), (-180, 1)],
        [(180, 1), (170, 2)], [(-170, 1), (-180, 1)], [(180, 1), (170, 1)]]
    xs, _, _ = geom.cut_dateline_rings([[170., 190., 190.]], [[0., 0., 4.]])
    assert [list(x) for x in xs] == [[170, 180, 180], [-180, -170, -170, -180]]


def test_polygon_cut_pieces_closed_and_float_noise_not_cut():
    """Both pieces of a cut closed ring come back closed, and a feature
    reaching past +-180 by float noise only (at most 1e-9) stays one
    part: a polygon and a line to 180.000000000001."""
    sq = [[170, 0], [190, 0], [190, 5], [170, 5], [170, 0]]
    g = transform.transform_geom(
        "EPSG:4326", "EPSG:4326", {"type": "Polygon", "coordinates": [sq]},
        antimeridian_cutting=True)
    assert g["coordinates"] == [
        [[[170, 0], [180, 0], [180, 5], [170, 5], [170, 0]]],
        [[[-180, 0], [-170, 0], [-170, 5], [-180, 5], [-180, 0]]]]
    x = 180.000000000001
    for geometry in (
            {"type": "Polygon",
             "coordinates": [[[170, 0], [x, 0], [x, 5], [170, 5], [170, 0]]]},
            {"type": "LineString", "coordinates": [[170, 0], [x, 0]]}):
        g = transform.transform_geom("EPSG:4326", "EPSG:4326", geometry,
                                     antimeridian_cutting=True)
        assert g["type"] == geometry["type"]
        assert g["coordinates"] == geometry["coordinates"]


def _flat(c):
    return [v for x in c for v in _flat(x)] if isinstance(c, list) else [c]


def test_simplify_and_buffer_whole_features(spark):
    """Douglas-Peucker runs on every ring; the buffer keeps holes and
    types its output by CCW shell count; null stays null."""
    zig = [0., 1., 2., 3., 4.]
    df = spark.createDataFrame(
        [("MultiLineString", [zig, zig], [[0., .01, 0., .01, 0.],
                                          [5., 5.01, 5., 5.01, 5.]]),
         ("MultiPolygon", [[0., 1., 1., 0.], [5., 6., 6., 5.]],
          [[0., 0., 1., 1.], [0., 0., 1., 1.]]),
         *[SQUARE_HOLE], (None, None, None)], RINGS)
    s = [r["s"] for r in df.select(
        gf.simplify_udf(0.1)(*gf.RING_ARGS).alias("s")).collect()]
    assert s[0]["rings_xs"] == [[0., 4.], [0., 4.]]
    assert s[0]["geom_type"] == "MultiLineString" and s[3] is None
    b = [r["b"] for r in df.select(
        gf.buffer_udf(0.5)(*gf.RING_ARGS).alias("b")).collect()]
    assert b[1]["geom_type"] == "MultiPolygon" and len(b[1]["rings_xs"]) == 2
    assert b[2]["geom_type"] == "Polygon" and len(b[2]["rings_xs"]) == 2
    assert b[3] is None


def test_buffer_lines_and_points(spark):
    """A line buffer is its slabs plus round caps, a point buffer the
    inscribed 32-gon; apart points give a MultiPolygon; a negative
    distance erases a line."""
    disk = 16 * 0.25 * np.sin(2 * np.pi / 32)       # 32-gon, radius 0.5
    df = spark.createDataFrame(
        [("LineString", [[0., 3.]], [[0., 0.]]),
         ("Point", [[1.]], [[1.]]),
         ("MultiPoint", [[0., 5.]], [[0., 0.]]),
         ("LineString", [[0., 3., 3.]], [[0., 0., 4.]])], RINGS)
    b = [r["b"] for r in df.select(
        gf.buffer_udf(0.5)(*gf.RING_ARGS).alias("b")).collect()]
    area = [union_area(r["rings_xs"], r["rings_ys"]) for r in b]
    assert area[0] == pytest.approx(3.0 + disk)
    assert area[1] == pytest.approx(disk)
    assert area[2] == pytest.approx(2 * disk)
    assert [r["geom_type"] for r in b] == ["Polygon", "Polygon",
                                           "MultiPolygon", "Polygon"]
    # an L: both slabs, the outer quarter fan, the two end caps
    assert area[3] == pytest.approx(7.0 + disk - 0.25 + disk / 4, rel=1e-3)
    neg = df.select(gf.buffer_udf(-0.5)(*gf.RING_ARGS).alias("b")).first()
    assert neg["b"]["rings_xs"] == []
