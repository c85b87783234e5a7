"""Parameterized projection families (r5): arbitrary proj4 -> kernel.

The reference reprojects between any two PROJ CRSs
(`fiona/transform.py:11-124`); the engine covers the same space for its
implemented kernel families with ARBITRARY parameters, not just EPSG
presets — `geom.kernel_from_proj4` + codeless `CRS.from_string`.

Oracles here are independent of the code under test: published EPSG
worked examples, exact defining identities (x = a*k0*lambda on a
cylinder), finite-difference conformality/scale checks, and round
trips.
"""

import numpy as np
import pytest

from fiona_spark import geom
from fiona_spark import crs as crsmod
from fiona_spark import transform as tr
from fiona_spark.functions.geometry import pair_fn

RNG = np.random.default_rng(42)


def _scale_along_parallel(fwd, lat, e2, a, lng=1.0):
    """Finite-difference scale factor along a parallel (per-meter on
    the ellipsoid: parallel radius = a cos(phi)/sqrt(1-e2 sin^2))."""
    h = 1e-6
    (x1, y1) = fwd(np.array([lng - h]), np.array([lat]))
    (x2, y2) = fwd(np.array([lng + h]), np.array([lat]))
    dm = np.hypot(x2 - x1, y2 - y1)[0]
    s = np.sin(np.deg2rad(lat))
    ground = (a * np.cos(np.deg2rad(lat)) / np.sqrt(1.0 - e2 * s * s)
              * np.deg2rad(2 * h))
    return dm / ground


E2_WGS = geom.WGS84_F * (2.0 - geom.WGS84_F)


# ---------------------------------------------------------------------------
# published-anchor tests
# ---------------------------------------------------------------------------

def test_polar_stereographic_epsg_worked_example():
    """EPSG Guidance Note 7-2, Polar Stereographic variant B worked
    example (Australian Antarctic / EPSG:3032 parameters): 75S 120E ->
    E 7255380.79, N 7053389.56."""
    fwd, inv = geom.kernel_from_proj4(
        "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=70 "
        "+x_0=6000000 +y_0=6000000 +datum=WGS84")
    x, y = fwd(np.array([120.0]), np.array([-75.0]))
    assert abs(x[0] - 7255380.79) < 0.01
    assert abs(y[0] - 7053389.56) < 0.01
    lng, lat = inv(x, y)
    assert abs(lng[0] - 120.0) < 1e-9 and abs(lat[0] + 75.0) < 1e-9


def test_world_mercator_equator_spacing_exact():
    """EPSG:3395: x is EXACTLY a * lambda (the defining property of a
    k0=1 Mercator on the ellipsoid), y(0) = 0, conformal everywhere."""
    fwd, inv = geom.kernel_from_proj4(crsmod.CRS.from_epsg(3395).to_proj4())
    lngs = np.array([-180.0, -45.0, 0.0, 100.0, 180.0])
    x, y = fwd(lngs, np.zeros(5))
    assert np.allclose(x, geom.WGS84_A * np.deg2rad(lngs), rtol=0, atol=1e-6)
    assert np.all(np.abs(y) < 1e-9)
    # conformality: scale along parallel == scale along meridian
    h = 1e-6
    for lat in (-60.0, -20.0, 37.0, 71.0):
        sp = _scale_along_parallel(fwd, lat, E2_WGS, geom.WGS84_A)
        (x1, y1) = fwd(np.array([1.0]), np.array([lat - h]))
        (x2, y2) = fwd(np.array([1.0]), np.array([lat + h]))
        s = np.sin(np.deg2rad(lat))
        m_rad = (geom.WGS84_A * (1 - E2_WGS)
                 / (1.0 - E2_WGS * s * s) ** 1.5)
        sm = np.hypot(x2 - x1, y2 - y1)[0] / (m_rad * np.deg2rad(2 * h))
        assert abs(sp / sm - 1.0) < 1e-6


# ---------------------------------------------------------------------------
# family properties
# ---------------------------------------------------------------------------

def test_tmerc_origin_and_utm_equivalence():
    fwd, inv = geom.make_tmerc(49.0, -2.0, 0.9996012717,
                               400_000.0, -100_000.0)
    x, y = fwd(np.array([-2.0]), np.array([49.0]))
    assert abs(x[0] - 400_000.0) < 1e-6 and abs(y[0] + 100_000.0) < 1e-6
    # parameterized tmerc with UTM params == the UTM preset family
    f2, _ = geom.kernel_from_proj4("+proj=tmerc +lat_0=0 +lon_0=15 "
                                   "+k=0.9996 +x_0=500000 +y_0=0 "
                                   "+datum=WGS84")
    xs = RNG.uniform(9, 21, 50)
    ys = RNG.uniform(-80, 84, 50)
    xa, ya = f2(xs, ys)
    xb, yb = geom.to_utm(xs, ys, 33, True)
    assert np.allclose(xa, xb, atol=1e-9) and np.allclose(ya, yb, atol=1e-9)


def test_tmerc_lat0_roundtrip_fuzz():
    fwd, inv = geom.make_tmerc(-37.0, 145.0, 1.0, 2_500_000.0,
                               2_500_000.0, geom.GRS80_A, geom.GRS80_F)
    lngs = RNG.uniform(140, 150, 200)
    lats = RNG.uniform(-44, -30, 200)
    lng2, lat2 = inv(*fwd(lngs, lats))
    assert np.max(np.abs(lng2 - lngs)) < 1e-9
    assert np.max(np.abs(lat2 - lats)) < 1e-9


def test_cea_true_scale_parallel_and_roundtrip():
    fwd, inv = geom.kernel_from_proj4("+proj=cea +lat_ts=30 +ellps=GRS80")
    e2 = geom.GRS80_F * (2.0 - geom.GRS80_F)
    assert abs(_scale_along_parallel(fwd, 30.0, e2, geom.GRS80_A)
               - 1.0) < 1e-6
    lngs = RNG.uniform(-179, 179, 200)
    lats = RNG.uniform(-89, 89, 200)
    lng2, lat2 = inv(*fwd(lngs, lats))
    assert np.max(np.abs(lng2 - lngs)) < 1e-9
    assert np.max(np.abs(lat2 - lats)) < 1e-8


def test_lcc_and_aea_one_parallel_degenerate_limits():
    """lat_1 == lat_2 must hit the analytic n = sin(lat_1) limit (not
    0/0) and keep the family's defining property at the parallel."""
    e2 = geom.GRS80_F * (2.0 - geom.GRS80_F)
    for p4, lat1 in [("+proj=lcc +lat_0=45 +lat_1=45 +lon_0=0 "
                      "+ellps=GRS80", 45.0),
                     ("+proj=aea +lat_0=40 +lat_1=40 +lat_2=40 +lon_0=0 "
                      "+ellps=GRS80", 40.0)]:
        fwd, inv = geom.kernel_from_proj4(p4)
        assert np.isfinite(fwd(np.array([3.0]), np.array([50.0]))[0][0])
        assert abs(_scale_along_parallel(fwd, lat1, e2, geom.GRS80_A)
                   - 1.0) < 1e-6
        lngs = RNG.uniform(-30, 30, 100)
        lats = RNG.uniform(lat1 - 20, lat1 + 20, 100)
        lng2, lat2 = inv(*fwd(lngs, lats))
        assert np.max(np.abs(lng2 - lngs)) < 1e-9
        assert np.max(np.abs(lat2 - lats)) < 1e-8


def test_polar_stere_north_axis_sense_and_roundtrip():
    fwd, inv = geom.kernel_from_proj4(crsmod.CRS.from_epsg(3413).to_proj4())
    x, y = fwd(np.array([-45.0, 45.0]), np.array([80.0, 80.0]))
    assert abs(x[0]) < 1e-6 and y[0] < 0          # along lon0: -y axis
    assert x[1] > 0 and abs(y[1]) < 1e-6          # lon0+90: +x axis
    lngs = RNG.uniform(-180, 180, 200)
    lats = RNG.uniform(60, 89.9, 200)
    lng2, lat2 = inv(*fwd(lngs, lats))
    # wrap lng difference
    dl = (lng2 - lngs + 180.0) % 360.0 - 180.0
    assert np.max(np.abs(dl)) < 1e-9
    assert np.max(np.abs(lat2 - lats)) < 1e-9


# ---------------------------------------------------------------------------
# dispatch + CRS surface
# ---------------------------------------------------------------------------

def test_kernel_dispatch_rejects_unknown_families():
    assert geom.kernel_from_proj4("+proj=robin +datum=WGS84") is None
    assert geom.kernel_from_proj4("+proj=stere +lat_0=40 +datum=WGS84") \
        is None                                   # oblique stere: out
    with pytest.raises(crsmod.CRSError):
        crsmod.CRS.from_string("+proj=robin +datum=WGS84")


def test_codeless_crs_object_surface():
    p4 = ("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
          "+x_0=400000 +y_0=-100000 +ellps=GRS80 +units=m +no_defs")
    c = crsmod.CRS.from_user_input(p4)
    assert c.to_epsg() is None and c.to_authority() is None
    assert c.is_projected and not c.is_geographic
    assert c.linear_units == "metre"
    assert crsmod.CRS.from_string(c.to_proj4()) == c
    assert hash(crsmod.CRS.from_string(c.to_proj4())) == hash(c)
    assert c != crsmod.CRS.from_epsg(4326)
    # registry-matching proj4 still resolves to its EPSG code
    c2 = crsmod.CRS.from_user_input(crsmod.CRS.from_epsg(3031).to_proj4())
    assert c2.to_epsg() == 3031


def test_pair_fn_composes_epsg_and_proj4():
    fn = pair_fn("EPSG:3413", "EPSG:3031")
    x, y = fn(np.array([100_000.0]), np.array([-2_000_000.0]))
    bx, by = pair_fn("EPSG:3031", "EPSG:3413")(x, y)
    assert abs(bx[0] - 100_000.0) < 1e-6 and abs(by[0] + 2_000_000.0) < 1e-6
    # proj4 -> proj4 composition through 4326
    a = "+proj=laea +lat_0=45 +lon_0=8 +ellps=GRS80"
    b = "+proj=aea +lat_0=40 +lat_1=42 +lat_2=48 +lon_0=8 +ellps=GRS80"
    x, y = pair_fn(a, b)(np.array([200_000.0]), np.array([300_000.0]))
    bx, by = pair_fn(b, a)(x, y)
    assert abs(bx[0] - 200_000.0) < 1e-6 and abs(by[0] - 300_000.0) < 1e-6
    with pytest.raises(ValueError):
        pair_fn("EPSG:4326", "+proj=robin +datum=WGS84")


def test_driver_transform_accepts_codeless_crs():
    xs, ys = tr.transform({"proj": "tmerc", "lat_0": 10, "lon_0": 5,
                           "k": 1, "x_0": 0, "y_0": 0, "ellps": "WGS84"},
                          "EPSG:4326", [0.0], [0.0])
    assert abs(xs[0] - 5.0) < 1e-9 and abs(ys[0] - 10.0) < 1e-9
    g = tr.transform_geom(
        "EPSG:4326", "+proj=laea +lat_0=45 +lon_0=8 +ellps=GRS80",
        {"type": "Point", "coordinates": [8.0, 45.0]})
    assert abs(g["coordinates"][0]) < 1e-6 and abs(g["coordinates"][1]) < 1e-6


def test_transform_udf_proj4_string(spark):
    from fiona_spark.functions.geometry import transform_udf
    df = spark.createDataFrame([(0, 120.0, -75.0)], "i long, lng double, "
                               "lat double")
    u = transform_udf("EPSG:4326", "+proj=stere +lat_0=-90 +lat_ts=-71 "
                      "+lon_0=70 +x_0=6000000 +y_0=6000000 +datum=WGS84")
    row = df.select(u("lng", "lat").alias("p")).collect()[0]["p"]
    assert abs(row["x"] - 7255380.79) < 0.01
    assert abs(row["y"] - 7053389.56) < 0.01


# ---------------------------------------------------------------------------
# r6: authority-less WKT1/WKT2 -> kernel dispatch (crs_wkt.wkt_to_proj4)
# ---------------------------------------------------------------------------

_WKT1_GEOG = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
              'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
              'PRIMEM["Greenwich",0.0],'
              'UNIT["Degree",0.0174532925199433]]')


def _wkt1(method, params):
    body = ",".join(f'PARAMETER["{k}",{v}]' for k, v in params)
    return (f'PROJCS["Local",{_WKT1_GEOG},PROJECTION["{method}"],'
            f'{body},UNIT["Meter",1.0]]')


@pytest.mark.parametrize("method,params,p4_twin", [
    ("Transverse_Mercator",
     [("False_Easting", 500000), ("False_Northing", 0),
      ("Central_Meridian", 9), ("Scale_Factor", 0.9996),
      ("Latitude_Of_Origin", 0)],
     "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +y_0=0 "
     "+datum=WGS84"),
    ("Lambert_Conformal_Conic_2SP",
     [("Latitude_Of_Origin", 46.5), ("Central_Meridian", 3),
      ("Standard_Parallel_1", 49), ("Standard_Parallel_2", 44),
      ("False_Easting", 700000), ("False_Northing", 6600000)],
     "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 "
     "+x_0=700000 +y_0=6600000 +datum=WGS84"),
    ("Albers_Conic_Equal_Area",
     [("Latitude_Of_Origin", 23), ("Central_Meridian", -96),
      ("Standard_Parallel_1", 29.5), ("Standard_Parallel_2", 45.5),
      ("False_Easting", 0), ("False_Northing", 0)],
     "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 "
     "+x_0=0 +y_0=0 +datum=WGS84"),
    ("Lambert_Azimuthal_Equal_Area",
     [("Latitude_Of_Origin", 52), ("Central_Meridian", 10),
      ("False_Easting", 4321000), ("False_Northing", 3210000)],
     "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
     "+datum=WGS84"),
    ("Polar_Stereographic",
     [("Standard_Parallel_1", -71), ("Central_Meridian", 0),
      ("False_Easting", 0), ("False_Northing", 0)],
     "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +x_0=0 +y_0=0 "
     "+datum=WGS84"),
])
def test_from_wkt_authorityless_matches_proj4_kernel(method, params, p4_twin):
    c = crsmod.CRS.from_wkt(_wkt1(method, params))
    assert c.to_epsg() is None          # authority-less -> codeless
    got = geom.kernel_from_proj4(c.to_proj4())
    want = geom.kernel_from_proj4(p4_twin)
    assert got is not None and want is not None
    lng = RNG.uniform(-20, 20, 64)
    lat = RNG.uniform(-85 if "stere" in p4_twin else -60,
                      -65 if "stere" in p4_twin else 60, 64)
    gx, gy = got[0](lng, lat)
    wx, wy = want[0](lng, lat)
    np.testing.assert_allclose(gx, wx, atol=1e-6)
    np.testing.assert_allclose(gy, wy, atol=1e-6)
    # inverse round trip through the WKT-built kernel
    bl, bp = got[1](gx, gy)
    np.testing.assert_allclose(bl, lng, atol=1e-9)
    np.testing.assert_allclose(bp, lat, atol=1e-9)


def test_from_wkt2_conversion_method_nodes():
    wkt2 = (
        'PROJCRS["Local LCC",BASEGEOGCRS["WGS 84",DATUM['
        '"World Geodetic System 1984",ELLIPSOID["WGS 84",6378137,'
        '298.257223563,LENGTHUNIT["metre",1]]],PRIMEM["Greenwich",0]],'
        'CONVERSION["unnamed",METHOD["Lambert Conic Conformal (2SP)"],'
        'PARAMETER["Latitude of false origin",46.5],'
        'PARAMETER["Longitude of false origin",3],'
        'PARAMETER["Latitude of 1st standard parallel",49],'
        'PARAMETER["Latitude of 2nd standard parallel",44],'
        'PARAMETER["Easting at false origin",700000],'
        'PARAMETER["Northing at false origin",6600000]],'
        'CS[Cartesian,2],AXIS["easting (X)",east],'
        'AXIS["northing (Y)",north],LENGTHUNIT["metre",1]]')
    c = crsmod.CRS.from_wkt(wkt2)
    assert c.to_epsg() is None
    fwd, _ = geom.kernel_from_proj4(c.to_proj4())
    # false origin lands exactly on (x_0, y_0) — Lambert-93 geometry
    x, y = fwd(np.array([3.0]), np.array([46.5]))
    assert abs(x[0] - 700000.0) < 1e-6 and abs(y[0] - 6600000.0) < 1e-6
    # nested BASEGEOGCRS["WGS 84"] must NOT name-sniff to EPSG:4326
    assert c.is_projected


def test_from_wkt_root_name_and_authority_still_resolve_codes():
    # authority node wins over everything
    assert crsmod.CRS.from_wkt(crsmod.CRS(2154).to_wkt()).to_epsg() == 2154
    # authority-less but exactly-named root resolves by registry name
    w = ('GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
         '298.257223563]],PRIMEM["Greenwich",0],'
         'UNIT["degree",0.0174532925199433]]')
    assert crsmod.CRS.from_wkt(w).to_epsg() == 4326


def test_wkt_geogcs_preserves_non_wgs84_ellipsoid():
    # a NAD27 (Clarke 1866) GEOGCS must NOT lower to +datum=WGS84 —
    # the ellipsoid is preserved as +a/+rf (r7; no datum SHIFT is
    # implied, the engine performs none anywhere)
    from fiona_spark.crs_wkt import wkt_to_proj4
    nad27 = ('GEOGCS["GCS_North_American_1927",'
             'DATUM["D_North_American_1927",'
             'SPHEROID["Clarke_1866",6378206.4,294.978698213898]],'
             'PRIMEM["Greenwich",0.0],'
             'UNIT["Degree",0.0174532925199433]]')
    p4 = wkt_to_proj4(nad27)
    assert "+a=6378206.4" in p4 and "+rf=294.978698213898" in p4
    assert "WGS84" not in p4
    # while a true-WGS84 ellipsoid still lowers to the datum spelling
    assert wkt_to_proj4(_WKT1_GEOG) == "+proj=longlat +datum=WGS84 +no_defs"


def test_from_wkt_unknown_method_raises():
    w = _wkt1("Robinson", [("Central_Meridian", 0)])
    with pytest.raises(crsmod.CRSError):
        crsmod.CRS.from_wkt(w)


def test_wkt_transform_pair_with_epsg(spark):
    # a WKT-built codeless CRS works end-to-end in the Spark UDF path
    from fiona_spark.functions.geometry import transform_udf
    w = _wkt1("Transverse_Mercator",
              [("False_Easting", 500000), ("False_Northing", 0),
               ("Central_Meridian", 15), ("Scale_Factor", 0.9996),
               ("Latitude_Of_Origin", 0)])
    df = spark.createDataFrame([(15.0, 0.0)], "lng double, lat double")
    u = transform_udf("EPSG:4326", w)
    row = df.select(u("lng", "lat").alias("p")).collect()[0]["p"]
    assert abs(row["x"] - 500000.0) < 1e-6 and abs(row["y"]) < 1e-6


@pytest.mark.parametrize("p4", [
    "+proj=tmerc +lat_0=10 +lon_0=5 +k=0.9996 +x_0=200000 +y_0=100 "
    "+ellps=GRS80",
    "+proj=merc +lon_0=10 +k=0.98 +datum=WGS84",
    "+proj=merc +lon_0=3 +lat_ts=20 +ellps=intl",
    "+proj=cea +lat_ts=30 +lon_0=0 +datum=WGS84",
    "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 +datum=NAD83",
    "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 +x_0=700000 "
    "+y_0=6600000 +ellps=GRS80",
    "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 +ellps=GRS80",
    "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +datum=WGS84",
    "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +datum=WGS84",
])
def test_codeless_to_wkt_round_trips_to_same_kernel(p4):
    """r6: to_wkt on parameter-built CRSs emits real WKT1
    PROJECTION/PARAMETER nodes; from_wkt(to_wkt(c)) rebuilds a kernel
    that agrees with the original everywhere (reference crs.pyx
    round-trips authority-less CRSs through PROJ the same way)."""
    c = crsmod.CRS.from_string(p4)
    assert c.to_epsg() is None
    c2 = crsmod.CRS.from_wkt(c.to_wkt())
    k1 = geom.kernel_from_proj4(c.to_proj4())
    k2 = geom.kernel_from_proj4(c2.to_proj4())
    south = "-90" in p4
    lng = RNG.uniform(-10, 10, 48)
    lat = RNG.uniform(-80, -65, 48) if south else RNG.uniform(20, 70, 48)
    for i in (0, 1):   # forward and inverse agree
        a1 = k1[i](*( (lng, lat) if i == 0 else k1[0](lng, lat) ))
        a2 = k2[i](*( (lng, lat) if i == 0 else k1[0](lng, lat) ))
        np.testing.assert_allclose(a1[0], a2[0], atol=1e-9)
        np.testing.assert_allclose(a1[1], a2[1], atol=1e-9)


def test_transform_geom_cuts_for_any_geographic_dst(spark):
    """r6: WRAPDATELINE applies to ANY geographic destination
    (fiona/_transform.pyx:151-160), not just the 'EPSG:4326'
    spelling."""
    from fiona_spark.functions.geometry import RING_ARGS, transform_geom_udf
    df = spark.createDataFrame(
        [("Polygon", [[175.0, 185.0, 185.0, 175.0, 175.0]],
          [[-5.0, -5.0, 5.0, 5.0, -5.0]])],
        "geom_type string, rings_xs array<array<double>>, "
        "rings_ys array<array<double>>")
    for dst in ("EPSG:4326", "+proj=longlat +datum=WGS84 +no_defs"):
        u = transform_geom_udf("EPSG:4326", dst)
        row = df.select(u(*RING_ARGS).alias("t")).collect()[0]
        assert len(row["t"]["rings_xs"]) == 2, dst     # cut into 2 rings
        assert row["t"]["geom_type"] == "MultiPolygon", dst
    # projected destination: no cutting
    u = transform_geom_udf("EPSG:4326", "EPSG:3857")
    row = df.select(u(*RING_ARGS).alias("t")).collect()[0]
    assert len(row["t"]["rings_xs"]) == 1
