"""Dissolve on the ring model: every ring and part of a feature counts.

``dissolve_union`` and ``dissolve_components`` read ``rings_xs`` /
``rings_ys``, so holes and MultiPolygon parts take part in the union,
and null or EMPTY geometries neither fail the job nor change the result.
The reference here is grid membership: a point is inside a feature when
an odd number of its rings hold it (even-odd), and inside the layer
when it is inside any feature.  Every coordinate is a whole number, so
quarter-cell centers decide membership exactly.
"""

import math

import numpy as np
import pyarrow as pa
import pytest

from fiona_spark import geom
from fiona_spark.errors import ReduceError
from fiona_spark.operators import aggregates

from .test_kernels import _pip_reference, union_area

RINGS = ("fid long, geom_type string, rings_xs array<array<double>>, "
         "rings_ys array<array<double>>")


def _box(x0, y0, x1, y1):
    return ([x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0])


def _feature(*boxes):
    return ([b[0] for b in boxes], [b[1] for b in boxes])


# 10x10 square with a 2x2 hole: area 96
HOLED = _feature(_box(0., 0., 10., 10.), _box(4., 4., 6., 6.))
# 2-part MultiPolygon: a 10x10 part with a 6x6 hole (64) and a 2x2 part
MULTI = _feature(_box(20., 0., 30., 10.), _box(22., 2., 28., 8.),
                 _box(40., 0., 42., 2.))
# crosses the hole and the east edge of MULTI's first part: area 20,
# 4 of it inside MULTI
BAR = _feature(_box(25., 4., 35., 6.))
LAYER = [(0, "Polygon", *HOLED), (1, "MultiPolygon", *MULTI),
         (2, "Polygon", *BAR), (3, None, None, None), (4, "Polygon", [], [])]


def _inside_any(px, py, feats):
    """Grid-membership reference: even-odd per feature, inside any."""
    inside = np.zeros(len(px), dtype=bool)
    for rings_x, rings_y in feats:
        odd = np.zeros(len(px), dtype=bool)
        for rx, ry in zip(rings_x, rings_y):
            odd ^= _pip_reference(px, py, np.asarray(rx, np.float64),
                                  np.asarray(ry, np.float64))
        inside |= odd
    return inside


def _grid():
    gx, gy = np.meshgrid(np.arange(-1.875, 45, 0.25),
                         np.arange(-1.875, 12, 0.25))
    return gx.ravel(), gy.ravel()


def _area(feats):
    px, py = _grid()
    return _inside_any(px, py, feats).sum() * 0.0625


@pytest.fixture(scope="module")
def layer(spark):
    return spark.createDataFrame(LAYER, RINGS).repartition(40)


def test_dissolve_union_keeps_holes_and_parts(layer):
    assert layer.rdd.getNumPartitions() > 32      # one fan-in round runs
    rx, ry, exact = aggregates.dissolve_union(layer)
    assert exact
    px, py = _grid()
    want = _inside_any(px, py, [HOLED, MULTI, BAR])
    assert (geom.points_in_rings(px, py, rx, ry) == want).all()
    assert want.sum() * 0.0625 == 180.0
    assert union_area(rx, ry) == 180.0


@pytest.mark.parametrize("max_pairs", [2_000_000, 0],
                         ids=["union_find", "distributed"])
def test_dissolve_components_rings(layer, max_pairs):
    out = {r["component"]: r for r in aggregates.dissolve_components(
        layer, "fid", max_pairs=max_pairs).collect()}
    assert sorted(out) == [0, 1, 3, 4]
    assert {c: r["n_members"] for c, r in out.items()} == {
        0: 1, 1: 2, 3: 1, 4: 1}
    assert all(r["exact"] for r in out.values())
    # singletons pass through untouched: null stays null, EMPTY empty
    assert (out[0]["rings_xs"], out[0]["rings_ys"]) == HOLED
    assert out[3]["rings_xs"] is None and out[3]["rings_ys"] is None
    assert out[4]["rings_xs"] == [] and out[4]["rings_ys"] == []
    assert {c: _area([(r["rings_xs"] or [], r["rings_ys"] or [])])
            for c, r in out.items()} == {0: 96.0, 1: 84.0, 3: 0.0, 4: 0.0}
    merged = (out[1]["rings_xs"], out[1]["rings_ys"])
    assert union_area(*merged) == 84.0
    px, py = _grid()
    assert (_inside_any(px, py, [merged])
            == _inside_any(px, py, [MULTI, BAR])).all()


def _members_table(rings):
    """A ``_dissolve`` input: one member row per (rings_xs, rings_ys)."""
    t = pa.list_(pa.list_(pa.float64()))
    return pa.table({"rings_xs": pa.array([r[0] for r in rings], t),
                     "rings_ys": pa.array([r[1] for r in rings], t),
                     "n_members": pa.array([1] * len(rings), pa.int64()),
                     "exact": [True] * len(rings)})


UNIT = _feature(_box(0., 0., 1., 1.))
NAN_RING = ([[math.nan, 1., 1.]], [[0., 0., 1.]])


def test_dissolve_skips_empty_and_null_rings():
    """An empty or null ring adds nothing; a feature left with no ring
    adds nothing (it failed the union with an IndexError)."""
    row = aggregates._dissolve(_members_table(
        [UNIT, ([[]], [[]]), ([None, [5., 6., 6.]], [None, [0., 0., 1.]])]
    )).to_pylist()[0]
    assert row["n_members"] == 3 and row["exact"]
    assert union_area(row["rings_xs"], row["rings_ys"]) == 1.5
    row = aggregates._dissolve(_members_table([UNIT, ([[]], [[]])])).to_pylist()[0]
    assert (row["rings_xs"], row["rings_ys"], row["exact"]) == (
        [[0., 1., 1., 0.]], [[0., 0., 1., 1.]], True)
    empty = aggregates._dissolve(_members_table([([[]], [[]])])).to_pylist()[0]
    assert (empty["rings_xs"], empty["rings_ys"]) == ([], [])


def test_dissolve_union_no_ring_left_raises(spark):
    """Rows whose every ring is empty or null are dropped in the plan
    like null and EMPTY rows, so a layer of only such rows has nothing
    to reduce."""
    df = spark.createDataFrame([(0, "Polygon", [[]], [[]]),
                                (1, "Polygon", [None], [None]),
                                (2, None, None, None)], RINGS)
    with pytest.raises(ReduceError):
        aggregates.dissolve_union(df)


def test_dissolve_rejects_non_finite_vertex(spark):
    """A NaN vertex fails loudly before the union; it came back inside
    a convex hull flagged only ``exact=False``."""
    with pytest.raises(ValueError, match="non-finite vertex"):
        aggregates._dissolve(_members_table([UNIT, NAN_RING]))
    df = spark.createDataFrame([(0, "Polygon", *UNIT), (1, "Polygon", *NAN_RING)],
                               RINGS)
    with pytest.raises(Exception, match="dissolve input has a non-finite vertex"):
        aggregates.dissolve_union(df)
