"""Geometry model v2: multi-ring (holes / MultiPolygon) PIP joins on
both physical plans, plus the broadcast auto-guard."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fiona_spark import fixtures, geom
from fiona_spark.operators import spatial

N_ZONES = 16
N_PTS = 400


@pytest.fixture(scope="module")
def zones_multi(spark):
    return spark.createDataFrame(fixtures.gen_zones_multi_pdf(N_ZONES),
                                 schema=fixtures.ZONES_MULTI_SCHEMA)


@pytest.fixture(scope="module")
def pts_pdf():
    rng = np.random.default_rng(99)
    # half the points sampled near zone centers so holes get probed
    zpdf = fixtures.gen_zones_multi_pdf(N_ZONES)
    lng = rng.uniform(-180, 180, N_PTS)
    lat = rng.uniform(-60, 60, N_PTS)
    half = N_PTS // 2
    zi = rng.integers(0, N_ZONES, half)
    lng[:half] = zpdf["clng"].to_numpy()[zi] + rng.uniform(-3, 3, half)
    lat[:half] = zpdf["clat"].to_numpy()[zi] + rng.uniform(-3, 3, half)
    return pd.DataFrame({"image_id": [f"p{i:05d}" for i in range(N_PTS)],
                         "lng": lng, "lat": lat})


@pytest.fixture(scope="module")
def pts(spark, pts_pdf):
    return spark.createDataFrame(pts_pdf)


def _brute_pairs(pts_pdf):
    zpdf = fixtures.gen_zones_multi_pdf(N_ZONES)
    px = pts_pdf["lng"].to_numpy()
    py = pts_pdf["lat"].to_numpy()
    out = set()
    for _, z in zpdf.iterrows():
        hit = geom.points_in_rings(px, py, z["rings_xs"], z["rings_ys"])
        for i in np.flatnonzero(hit):
            out.add((pts_pdf["image_id"].iloc[i], z["zone_id"]))
    return out


def test_pip_join_multi_broadcast_matches_bruteforce(spark, pts, pts_pdf,
                                                     zones_multi):
    got = spatial.pip_join(pts, zones_multi, res=6).toPandas()
    keys = set(map(tuple, got[["image_id", "zone_id"]].itertuples(index=False)))
    assert keys == _brute_pairs(pts_pdf)
    assert len(keys) > 10   # fixture actually exercises the join


def test_pip_join_broadcast_autoguard_flips_to_shuffled(spark, pts, pts_pdf,
                                                        zones_multi):
    """max_broadcast_zones below the layer size (one row under it, and
    0) must take the shuffled plan (no driver collect) and return the
    same rows as the brute force."""
    for guard in (N_ZONES - 1, 0):
        got = spatial.pip_join(pts, zones_multi, res=6,
                               max_broadcast_zones=guard).toPandas()
        keys = set(map(tuple, got[["image_id", "zone_id"]]
                       .itertuples(index=False)))
        assert keys == _brute_pairs(pts_pdf)


def test_hole_points_excluded_island_included(spark, zones_multi):
    """Deterministic probes: zone centers of 'holed' zones are INSIDE the
    hole (excluded); centers of 'nested' zones sit on the island
    (included); 'plain'/'multi-offset' centers behave as constructed."""
    zpdf = fixtures.gen_zones_multi_pdf(N_ZONES)
    probes = pd.DataFrame({
        "image_id": zpdf["zone_id"],      # probe named after its zone
        "lng": zpdf["clng"], "lat": zpdf["clat"],
        "kind": zpdf["kind"]})
    pts = spark.createDataFrame(probes[["image_id", "lng", "lat"]])
    got = spatial.pip_join(pts, zones_multi, res=6).toPandas()
    hit_own = set(got[got["image_id"] == got["zone_id"]]["image_id"])
    for _, z in zpdf.iterrows():
        if z["kind"] in ("holed",):
            assert z["zone_id"] not in hit_own   # center is in the hole
        elif z["kind"] in ("nested", "plain"):
            assert z["zone_id"] in hit_own       # island / solid interior
        # 'multi': center sits between the two parts — outside both
        elif z["kind"] == "multi":
            assert z["zone_id"] not in hit_own


# -- geometry-level antimeridian cutting (r2 "what's missing" #4,
# -- fiona/_transform.pyx:131-183 WRAPDATELINE/DATELINEOFFSET) --------------

def test_cut_dateline_rings_straddler():
    from fiona_spark import geom
    xs, ys, cut = geom.cut_dateline_rings(
        [[170.0, 190.0, 190.0, 170.0]], [[-5.0, -5.0, 5.0, 5.0]])
    assert cut and len(xs) == 2
    area = sum(geom.shoelace_area(x, y) for x, y in zip(xs, ys))
    assert area == 200.0
    allx = np.concatenate(xs)
    assert allx.min() >= -180.0 and allx.max() <= 180.0


def test_cut_dateline_rings_west_wrap_and_passthrough():
    from fiona_spark import geom
    xs, ys, cut = geom.cut_dateline_rings(
        [[-190.0, -170.0, -170.0, -190.0], [0.0, 10.0, 10.0, 0.0]],
        [[0.0, 0.0, 8.0, 8.0], [0.0, 0.0, 1.0, 1.0]])
    assert cut and len(xs) == 3
    area = sum(geom.shoelace_area(x, y) for x, y in zip(xs, ys))
    assert area == 160.0 + 10.0
    # non-wrapping ring untouched
    assert [list(v) for v in xs if list(v) == [0.0, 10.0, 10.0, 0.0]]


def test_cut_dateline_beyond_offset_window_passthrough():
    from fiona_spark import geom
    xs, ys, cut = geom.cut_dateline_rings(
        [[200.0, 210.0, 210.0, 200.0]], [[0.0, 0.0, 1.0, 1.0]], offset=10.0)
    assert not cut and len(xs) == 1          # malformed: outside window


def test_transform_geom_udf_cuts_after_reprojection(spark):
    """A 3857 polygon whose longitudes wrap past 180 after inverse
    projection comes back as a cut 2-ring feature inside [-180, 180]."""
    import pandas as pd
    from fiona_spark import geom
    from fiona_spark.functions import geometry as fg
    # build in 4326 with wrap convention, project to 3857 (continuous x)
    wxs, wys = geom.to_3857(np.array([175.0, 185.0, 185.0, 175.0]),
                            np.array([-3.0, -3.0, 3.0, 3.0]))
    df = spark.createDataFrame(pd.DataFrame({
        "gid": [1], "geom_type": ["Polygon"],
        "rings_xs": [[wxs.tolist()]], "rings_ys": [[wys.tolist()]]}))
    out = df.select(
        "gid", fg.transform_geom_udf("EPSG:3857", "EPSG:4326")(
            *fg.RING_ARGS).alias("g")).first()["g"]
    rx, ry = out["rings_xs"], out["rings_ys"]
    assert len(rx) == 2 and out["geom_type"] == "MultiPolygon"
    allx = np.concatenate([np.asarray(r) for r in rx])
    assert allx.min() >= -180.0 and allx.max() <= 180.0
    area = sum(geom.shoelace_area(np.asarray(x), np.asarray(y))
               for x, y in zip(rx, ry))
    assert area == pytest.approx(60.0, rel=1e-9)
