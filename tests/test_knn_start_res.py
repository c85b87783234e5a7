"""kNN start resolution: the cost rule ``spatial.knn_res_for`` and a
differential check that ``knn_join`` returns the same rows at any start
level, on both lanes, against a brute-force (dist, zone_key) reference."""

import warnings

import numpy as np
import pandas as pd
import pytest

from fiona_spark import cells, fixtures
from fiona_spark.operators import spatial

RESES = (None, 1, 3, 5, 8, spatial.MAX_KNN_RES)


def knn_reference(pts: pd.DataFrame, zones: pd.DataFrame, k: int):
    """Every point's k nearest zones by (euclidean degrees, zone_id),
    the distance spelled as both lanes spell it."""
    zx, zy = zones.clng.to_numpy(), zones.clat.to_numpy()
    keys = zones.zone_id.to_numpy()
    rows = set()
    for p in pts.itertuples(index=False):
        dx, dy = p.lng - zx, p.lat - zy
        for rank, j in enumerate(np.lexsort((keys, np.sqrt(dx * dx + dy * dy)))[:k], 1):
            rows.add((p.image_id, keys[j], rank))
    return rows


def _zones(xy, keys=None):
    xy = np.asarray(xy, np.float64).reshape(-1, 2)
    keys = keys or [f"z{j:04d}" for j in range(len(xy))]
    return pd.DataFrame({"zone_id": keys, "clng": xy[:, 0], "clat": xy[:, 1]})


def _points(xy, tag):
    xy = np.asarray(xy, np.float64).reshape(-1, 2)
    return pd.DataFrame({"image_id": [f"{tag}{i:03d}" for i in range(len(xy))],
                         "lng": xy[:, 0], "lat": xy[:, 1]})


def _spread_points(rng, n=24):
    """Global points: mid latitudes, both poles and both sides of +-180."""
    return np.column_stack([
        np.r_[rng.uniform(-180, 180, n - 8), -180, 180, 179.99, -179.99,
              0, 45, -120, 90],
        np.r_[rng.uniform(-70, 70, n - 8), 10, -10, 0, 0, 90, -90, 89.9, -89.9]])


# the fp edge of the finish test: at these start levels the zone ``a`` sits
# exactly cell_height from the point (the float distance rounds to it) but
# two cell rows below, outside the point's disk(1); ``b`` ties with it
# inside disk(1).  Only the strict ``<`` keeps ``b`` from finishing the
# point at that level and ranking ahead of ``a``.
_EDGE = [(3, 10.0, 22.499999999999993, -7.105427357601003e-15),
         (8, 100.0, -25.312500000000007, -26.015625000000007)]


def _edge_layer():
    zs, ps, keys = [], [], []
    for r, x, y, z in _EDGE:
        h = 180.0 / (1 << r)
        zs += [(x, z), (x + h, y)]
        keys += [f"a{r:02d}", f"b{r:02d}"]
        ps.append((x, y))
    return _zones(zs, keys), _points(ps, "e")


def _layers():
    rng = np.random.default_rng(131)
    spread = _spread_points(rng)
    z10 = cells.cell_bounds(cells.cell_id(np.array([12.3]), np.array([45.6]), 10))
    in_cell = np.column_stack([rng.uniform(z10[0][0], z10[2][0], 15),
                               rng.uniform(z10[1][0], z10[3][0], 15)])
    polar = [(0, 90), (180, 89.9), (-180, -90), (179.99, 0), (-179.99, 0.5),
             (180, -45), (-180, 45), (90, -89.95), (-45, 88)]
    dup = np.repeat(rng.uniform([-60, -30], [60, 30], (6, 2)), 3, axis=0)
    fix = fixtures.gen_zones_pdf(45)[["zone_id", "clng", "clat"]]
    near_cell = np.column_stack([rng.normal(12.5, 0.5, 8),
                                 rng.normal(45.7, 0.2, 8)])
    return {
        "fixture": (fix, _points(np.r_[spread, fix[["clng", "clat"]].to_numpy()[:8]
                                       + 0.3], "f"), 3),
        "one_res10_cell": (_zones(in_cell), _points(np.r_[spread, near_cell], "c"), 3),
        "single_zone": (_zones([(12.0, -4.0)]), _points(spread, "s"), 3),
        "k_over_nz": (_zones([(0, 0), (1, 1), (-50, 20), (170, -60)]),
                      _points(spread, "k"), 6),
        "polar_and_dateline": (_zones(polar), _points(np.r_[spread, polar], "p"), 3),
        "duplicate_centroids": (_zones(dup), _points(np.r_[spread, dup[::3]], "d"), 3),
        "fp_edge": (*_edge_layer(), 1),
    }


LAYERS = _layers()


@pytest.mark.parametrize("layer", list(LAYERS))
def test_knn_rows_do_not_depend_on_start_res(spark, layer):
    """Both lanes at every start level (None: the cost rule) return the
    brute-force rows."""
    zpdf, ppdf, k = LAYERS[layer]
    zones = spark.createDataFrame(zpdf, "zone_id string, clng double, clat double")
    pts = spark.createDataFrame(ppdf, "image_id string, lng double, lat double")
    exp = knn_reference(ppdf, zpdf, k)
    assert len(exp) == len(ppdf) * min(k, len(zpdf))
    for guard in (spatial.MAX_BROADCAST_ZONES, 0):
        for res in RESES:
            got = spatial.knn_join(pts, zones, k=k, res=res,
                                   max_broadcast_zones=guard).collect()
            assert sorted(map(tuple, got)) == sorted(exp), (guard, res)


def test_fp_edge_layer_sits_outside_disk1():
    """The planted pairs hold what the fp_edge layer relies on."""
    for r, x, y, z in _EDGE:
        h = 180.0 / (1 << r)
        _, rows = cells._grid_xy(np.array([x, x, x + h]), np.array([y, z, y]), r)
        assert rows[0] - rows[1] == 2 and rows[2] == rows[0]
        assert (y - z) * (y - z) == h * h


def _in_range(r):
    return 1 <= r <= spatial.MAX_KNN_RES


def test_knn_res_for_degenerate_layers():
    """No zones, one zone, all zones on one point, collinear zones."""
    assert _in_range(spatial.knn_res_for(0, 3, (None, None, None, None)))
    assert _in_range(spatial.knn_res_for(1, 3, (5.0, 5.0, 5.0, 5.0)))
    assert _in_range(spatial.knn_res_for(500, 3, (5.0, 5.0, 5.0, 5.0)))
    assert _in_range(spatial.knn_res_for(500, 3, (-180.0, 0.0, 180.0, 0.0)))
    assert _in_range(spatial.knn_res_for(500, 3, (7.0, -60.0, 7.0, 60.0)))


def test_knn_res_for_benchmark_layer():
    """The benchmark's 3,350 fixture zones at k=3 start at res 5 (the
    whole-globe density rule picked res 4: 167 candidates per point
    against 44)."""
    z = fixtures.gen_zones_pdf(3350)
    bbox = (z.clng.min(), z.clat.min(), z.clng.max(), z.clat.max())
    assert spatial.knn_res_for(len(z), 3, bbox) == 5


def test_knn_res_for_large_k_and_layer_stays_finite():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for bbox in ((-180.0, -90.0, 180.0, 90.0), (0.0, 0.0, 0.0, 0.0)):
            assert _in_range(spatial.knn_res_for(10 ** 6, 50, bbox))
        assert _in_range(spatial.knn_res_for(10 ** 6, 10 ** 4, (0.0, 0.0, 1.0, 1.0)))


def test_knn_lanes_choose_the_same_res(spark, monkeypatch):
    """The fused lane takes the bbox from its collected centroids, the
    cogrouped lane from its one count aggregate: same layer, same res."""
    zpdf, ppdf, _ = LAYERS["fixture"]
    zones = spark.createDataFrame(zpdf, "zone_id string, clng double, clat double")
    pts = spark.createDataFrame(ppdf, "image_id string, lng double, lat double")
    picked, rule = [], spatial.knn_res_for
    monkeypatch.setattr(spatial, "knn_res_for", lambda nz, k, bbox, levels: (
        picked.append((nz, k, tuple(bbox), levels, rule(nz, k, bbox, levels)))
        or picked[-1][-1]))
    for guard in (spatial.MAX_BROADCAST_ZONES, 0):
        spatial.knn_join(pts, zones, k=3, max_broadcast_zones=guard).collect()
    assert len(picked) == 2 and picked[0] == picked[1]
