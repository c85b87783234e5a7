"""Spatial operators vs eager numpy oracles (Fiona featureRT analogue:
same kernels run single-node in pandas, SURVEY.md section 5.3)."""

import numpy as np
import pandas as pd
import pytest

from fiona_spark import cells, fixtures, geom
from fiona_spark.operators import aggregates, filters, spatial

from .test_kernels import _pip_reference, polygon_union, union_area

N_IMG = 400
N_ZONES = 45
RES = 6


@pytest.fixture(scope="module")
def images_pdf():
    return fixtures.gen_images_pdf(0, N_IMG)


@pytest.fixture(scope="module")
def zones_pdf():
    return fixtures.gen_zones_pdf(N_ZONES)


@pytest.fixture(scope="module")
def images(spark, images_pdf):
    return spark.createDataFrame(images_pdf, schema=fixtures.IMAGES_SCHEMA).cache()


@pytest.fixture(scope="module")
def zones(spark, zones_pdf):
    return spark.createDataFrame(zones_pdf, schema=fixtures.ZONES_SCHEMA).cache()


def _pip_oracle(images_pdf, zones_pdf):
    """Brute-force point-in-polygon pairs with antimeridian wrap; a
    multi-ring zone (rings_xs/rings_ys) is the XOR of its rings."""
    out = set()
    px = images_pdf.lng.to_numpy()
    py = images_pdf.lat.to_numpy()
    for z in zones_pdf.itertuples(index=False):
        rings = (list(zip(z.rings_xs, z.rings_ys))
                 if "rings_xs" in zones_pdf else [(z.xs, z.ys)])
        inside = np.zeros(len(px), dtype=bool)
        for shift in (0.0, 360.0, -360.0):
            parity = np.zeros(len(px), dtype=bool)
            for xs, ys in rings:
                parity ^= _pip_reference(px + shift, py, xs, ys)
            inside |= parity
        for i in np.flatnonzero(inside):
            out.add((images_pdf.image_id.iloc[i], z.zone_id))
    return out


def test_pip_join_matches_oracle(spark, images, zones, images_pdf, zones_pdf):
    got = set(map(tuple, spatial.pip_join(images, zones, res=RES)
                  .collect()))
    exp = _pip_oracle(images_pdf, zones_pdf)
    assert got == exp
    assert len(exp) > 20  # non-trivial overlap in the fixture


@pytest.mark.parametrize("bucket_rows", [spatial.PIP_BUCKET_ROWS, 1],
                         ids=["zones_over_buckets", "buckets_over_zones"])
@pytest.mark.parametrize("skew", ["salt4", "one_cell"])
@pytest.mark.parametrize("multi", [False, True], ids=["single", "multi"])
@pytest.mark.parametrize("key", ["str", "int"])
def test_pip_join_salted_same_result(spark, monkeypatch, images_pdf,
                                     zones_pdf, key, multi, skew,
                                     bucket_rows):
    """The bucketed shuffled lane at forced tiny guards returns the
    fused lane's rows and the brute force's, as a multiset.  ``salt4``:
    four forced salts over the spread fixture points; ``one_cell``: every
    point in one cell with hot_threshold=1, so salt='auto' engages both
    the cell salting and the zone split.  A bucket budget of one
    candidate row makes more buckets than zones; the default budget
    leaves fewer buckets than zones."""
    monkeypatch.setattr(spatial, "PIP_BUCKET_ROWS", bucket_rows)
    zpdf = fixtures.gen_zones_multi_pdf(N_ZONES) if multi else zones_pdf
    zpdf = zpdf.assign(zid=np.arange(len(zpdf), dtype=np.int64) * 7 + 3)
    schema = (fixtures.ZONES_MULTI_SCHEMA if multi
              else fixtures.ZONES_SCHEMA) + ", zid long"
    zones = spark.createDataFrame(zpdf, schema=schema)
    if skew == "one_cell":
        # points around a zone center, all inside that center's cell
        rng = np.random.default_rng(5)
        c = cells.cell_bounds(cells.cell_id(
            np.array([zpdf.clng[0]]), np.array([zpdf.clat[0]]), RES))
        pdf = pd.DataFrame({
            "image_id": [f"q{i:03d}" for i in range(60)],
            "lng": rng.uniform(c[0][0], c[2][0], 60),
            "lat": rng.uniform(c[1][0], c[3][0], 60)})
        kw = dict(hot_threshold=1)
    else:
        rng = np.random.default_rng(6)
        zi = rng.integers(0, len(zpdf), 200)
        pdf = pd.concat([images_pdf[["image_id", "lng", "lat"]],
                         pd.DataFrame({
                             "image_id": [f"z{i:03d}" for i in range(200)],
                             "lng": zpdf.clng.to_numpy()[zi]
                             + rng.uniform(-3, 3, 200),
                             "lat": zpdf.clat.to_numpy()[zi]
                             + rng.uniform(-3, 3, 200)})],
                        ignore_index=True)
        kw = dict(salt=4, hot_threshold=5)
    pts = spark.createDataFrame(pdf, "image_id string, lng double, lat double")
    zone_cols = ("zone_id",) if key == "str" else ("zid", "zone_id")
    fused = spatial.pip_join(pts, zones, res=RES, zone_cols=zone_cols)
    shuffled = spatial.pip_join(pts, zones, res=RES, zone_cols=zone_cols,
                                max_broadcast_zones=0, **kw)
    zid = dict(zip(zpdf.zone_id, zpdf.zid))
    exp = sorted((i, z) if key == "str" else (i, zid[z], z)
                 for i, z in _pip_oracle(pdf, zpdf))
    assert sorted(map(tuple, shuffled.collect())) == exp
    assert sorted(map(tuple, fused.collect())) == exp
    assert len(exp) >= 10


@pytest.mark.parametrize("multi", [False, True])
def test_pip_join_empty_ring_lanes_agree(spark, multi):
    """A zone whose ring is empty but whose bbox covers points contains
    no point on either lane (the shuffled lane used to abort the job on
    the empty ring)."""
    ring_x = [0.0, 10.0, 10.0, 0.0]
    ring_y = [0.0, 0.0, 10.0, 10.0]
    bbox = (0.0, 0.0, 10.0, 10.0)
    if multi:
        zpdf = pd.DataFrame({
            "zone_id": ["full", "empty", "no_rings"],
            "rings_xs": [[ring_x], [[]], []],
            "rings_ys": [[ring_y], [[]], []]})
        ring_schema = "rings_xs array<array<double>>, rings_ys array<array<double>>"
    else:
        zpdf = pd.DataFrame({"zone_id": ["full", "empty"],
                             "xs": [ring_x, []], "ys": [ring_y, []]})
        ring_schema = "xs array<double>, ys array<double>"
    for c, v in zip(("xmin", "ymin", "xmax", "ymax"), bbox):
        zpdf[c] = v
    zones = spark.createDataFrame(
        zpdf, schema=f"zone_id string, {ring_schema}, xmin double, "
                     "ymin double, xmax double, ymax double")
    points = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a", "b", "c"],
                      "lng": [5.0, 2.5, 20.0], "lat": [5.0, 7.5, 5.0]}),
        schema="image_id string, lng double, lat double")
    fused = set(map(tuple, spatial.pip_join(points, zones, res=RES)
                    .collect()))
    shuffled = set(map(tuple, spatial.pip_join(points, zones, res=RES,
                                               max_broadcast_zones=0)
                       .collect()))
    assert fused == shuffled == {("a", "full"), ("b", "full")}


@pytest.mark.parametrize("guard", [spatial.MAX_BROADCAST_ZONES, 0],
                         ids=["fused", "shuffled"])
def test_pip_join_duplicate_zone_keys(spark, guard):
    """Two zone rows share the key 'Z' (disjoint squares, told apart by
    NAME) and 'U' covers both: each lane returns one row per zone ROW
    containing the point, with that row's NAME, never only the key's
    first row."""
    rows = [("Z", "z_low", 0.0, 1.0), ("Z", "z_high", 2.0, 3.0),
            ("U", "u", 0.0, 3.0)]
    zones = spark.createDataFrame(
        [(k, n, [a, b, b, a], [a, a, b, b], a, a, b, b)
         for k, n, a, b in rows],
        "zone_id string, NAME string, xs array<double>, ys array<double>, "
        "xmin double, ymin double, xmax double, ymax double")
    points = spark.createDataFrame([("a", 0.5, 0.5), ("b", 2.5, 2.5)],
                                   "image_id string, lng double, lat double")
    got = spatial.pip_join(points, zones, res=3, zone_cols=("zone_id", "NAME"),
                           max_broadcast_zones=guard).collect()
    assert sorted(map(tuple, got)) == [("a", "U", "u"), ("a", "Z", "z_low"),
                                       ("b", "U", "u"), ("b", "Z", "z_high")]


@pytest.mark.parametrize("defect", ["none", "null_ring", "null_vertex",
                                    "nan_vertex"])
@pytest.mark.parametrize("multi", [False, True], ids=["single", "multi"])
@pytest.mark.parametrize("guard", [spatial.MAX_BROADCAST_ZONES, 0],
                         ids=["fused", "shuffled"])
def test_pip_join_null_and_nan_zone_rings(spark, guard, multi, defect):
    """One rule on both lanes.  A null ring column is a null geometry:
    the zone is dropped in the plan and contains no point (zone
    'nogeom', whose bbox covers point 'a').  A null ring inside
    rings_xs, a null vertex or a NaN vertex in zone 'bad' raises a
    ValueError naming it, although no point reaches 'bad'.  Without
    rings_xs a null ring IS the null geometry, so it is dropped."""
    from pyspark.errors import PythonException
    sq_x, sq_y = [0.0, 10.0, 10.0, 0.0], [0.0, 0.0, 10.0, 10.0]
    far_x, far_y = [50.0, 60.0, 60.0, 50.0], [50.0, 50.0, 60.0, 60.0]
    bad_x = {"none": far_x, "null_ring": None,
             "null_vertex": [50.0, None, 60.0, 50.0],
             "nan_vertex": [50.0, float("nan"), 60.0, 50.0]}[defect]
    if multi:
        cols, typ = ("rings_xs", "rings_ys"), "array<array<double>>"
        xs, ys = [[sq_x], None, [far_x, bad_x]], [[sq_y], None, [far_y] * 2]
    else:
        cols, typ = ("xs", "ys"), "array<double>"
        xs, ys = [sq_x, None, bad_x], [sq_y, None, far_y]
    zones = spark.createDataFrame(
        pd.DataFrame({"zone_id": ["good", "nogeom", "bad"],
                      cols[0]: xs, cols[1]: ys,
                      "xmin": [0.0, 0.0, 50.0], "ymin": [0.0, 0.0, 50.0],
                      "xmax": [10.0, 10.0, 60.0], "ymax": [10.0, 10.0, 60.0]}),
        schema=f"zone_id string, {cols[0]} {typ}, {cols[1]} {typ}, "
               "xmin double, ymin double, xmax double, ymax double")
    points = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a", "b"], "lng": [5.0, 20.0],
                      "lat": [5.0, 5.0]}),
        schema="image_id string, lng double, lat double")
    run = lambda: set(map(tuple, spatial.pip_join(  # noqa: E731
        points, zones, res=RES, max_broadcast_zones=guard).collect()))
    if defect in ("null_vertex", "nan_vertex") or (
            defect == "null_ring" and multi):
        with pytest.raises((ValueError, PythonException),
                           match="zone 'bad' has a null ring or a null "
                                 "or NaN vertex"):
            run()
    else:
        assert run() == {("a", "good")}


def test_semi_anti_partition(spark, images, zones):
    n_semi = spatial.spatial_semi_join(images, zones, res=RES).count()
    n_anti = spatial.spatial_anti_join(images, zones, res=RES).count()
    assert n_semi + n_anti == N_IMG
    assert 0 < n_semi < N_IMG


def test_range_join_matches_oracle(spark, images, zones, images_pdf, zones_pdf):
    got = spatial.range_join(images, zones, res=RES).collect()
    got_set = set(map(tuple, got))
    # reference-point dedup must produce NO duplicates
    assert len(got) == len(got_set)
    exp = set()
    for img in images_pdf.itertuples(index=False):
        for z in zones_pdf.itertuples(index=False):
            if (img.xmax >= z.xmin and img.xmin <= z.xmax
                    and img.ymax >= z.ymin and img.ymin <= z.ymax):
                exp.add((img.image_id, z.zone_id))
    assert got_set == exp


def test_knn_matches_bruteforce(spark, images, zones, images_pdf, zones_pdf):
    k = 3
    got = spatial.knn_join(images, zones, k=k).toPandas()
    exp_rows = set()
    for img in images_pdf.itertuples(index=False):
        d = np.sqrt((img.lng - zones_pdf.clng.to_numpy()) ** 2
                    + (img.lat - zones_pdf.clat.to_numpy()) ** 2)
        order = np.lexsort((zones_pdf.zone_id.to_numpy(), d))
        for rank, j in enumerate(order[:k], start=1):
            exp_rows.add((img.image_id, zones_pdf.zone_id.iloc[j], rank))
    assert set(map(tuple, got.itertuples(index=False))) == exp_rows
    assert len(got) == N_IMG * k


def test_with_point_cell_matches_numpy(spark, images, images_pdf):
    got = (spatial.with_point_cell(images, 9).orderBy("image_id")
           .select("cell").toPandas()["cell"].to_numpy())
    exp = cells.cell_id(images_pdf.lng.to_numpy(), images_pdf.lat.to_numpy(), 9)
    assert (got == exp).all()


def test_covering_cells_roundtrip(spark, zones, zones_pdf):
    got = (spatial.with_covering_cells(zones.select("zone_id", "xmin", "ymin", "xmax", "ymax"), 6)
           .groupBy("zone_id").count().orderBy("zone_id").toPandas())
    for _, r in got.iterrows():
        j = int(r.zone_id[1:])
        z = zones_pdf.iloc[j]
        if z.xmax > 180.0 or z.xmin < -180.0:
            continue  # wrapped zones covered by dedicated test
        exp = cells.covering_counts(np.array([z.xmin]), np.array([z.ymin]),
                                    np.array([z.xmax]), np.array([z.ymax]), 6)[0]
        assert r["count"] == exp


def test_antimeridian_zone_joins_wrapped_points(spark, zones):
    # points just west of +180 and just east of -180 + the two stradders
    pdf = pd.DataFrame({"image_id": ["pE", "pW"], "lng": [179.95, -179.95],
                        "lat": [0.0, 0.0]})
    # place test points at the stradders' actual latitudes
    zp = fixtures.gen_zones_pdf(28)
    straddlers = zp[zp.zone_id.isin(["z000013", "z000027"])]
    pts = []
    for z in straddlers.itertuples(index=False):
        pts.append({"image_id": "c" + z.zone_id, "lng": 179.99 if z.clng > 0 else -179.99,
                    "lat": z.clat})
    test_points = pd.DataFrame(pts)
    import pyspark.sql.types as T  # noqa
    points = spark.createDataFrame(test_points, schema="image_id string, lng double, lat double")
    got = set(map(tuple, spatial.pip_join(points, zones, res=RES).collect()))
    exp = _pip_oracle(test_points, zp)
    assert got == exp
    assert len(exp) >= 1  # a point right at the stradder's center latitude hits it


def test_hot_cells_detects_fixture_skew(spark, images):
    p = spatial.with_point_cell(images, RES)
    hot = spatial.hot_cells(p, threshold=N_IMG // 25).collect()
    hot_ids = {r["cell"] for r in hot}
    expected_hot = cells.cell_id([fixtures.HOT_LNG + 0.5], [fixtures.HOT_LAT + 0.5], RES)[0]
    assert expected_hot in hot_ids


def test_block_tiles(spark, images, images_pdf):
    out = spatial.block_tiles(images.limit(5), res=12).toPandas()
    assert {"image_id", "bx", "by", "cell", "mean_lum"} == set(out.columns)
    one = images_pdf.iloc[0]
    sub = out[out.image_id == one.image_id]
    assert len(sub) == (one.w // 8) * (one.h // 8)
    # every tile cell must be inside the footprint's covering at res 12
    cov = set(cells.cells_covering(np.array([one.xmin]), np.array([one.ymin]),
                                   np.array([one.xmax]), np.array([one.ymax]), 12)[0].tolist())
    assert set(sub.cell.tolist()) <= cov
    assert (sub.mean_lum >= 0).all() and (sub.mean_lum <= 255).all()


def _covering_reference(xmin, ymin, xmax, ymax, res):
    """Plain-numpy covering of one bbox: the closed-form enumeration of
    fiona_spark.cells, with antimeridian stradders split into their east
    and west boxes and the union deduplicated."""
    if xmax > 180.0:
        boxes = [(xmin, ymin, 180.0, ymax), (-180.0, ymin, xmax - 360.0, ymax)]
    elif xmin < -180.0:
        boxes = [(xmin + 360.0, ymin, 180.0, ymax), (-180.0, ymin, xmax, ymax)]
    else:
        boxes = [(xmin, ymin, xmax, ymax)]
    parts = [cells.cells_covering(np.array([b[0]]), np.array([b[1]]),
                                  np.array([b[2]]), np.array([b[3]]), res)[0]
             for b in boxes]
    return np.unique(np.concatenate(parts))


def test_covering_cells_matches_numpy_reference(spark):
    """r8 guard: the pure-Catalyst covering enumeration (sequence +
    explode + pmod wrap) must match the plain-numpy reference on
    boundary values, antimeridian stradders, poles and full-circle
    boxes."""
    rows, rid = [], 0
    for xmin in (-180.0, -179.9999, -0.5, 0.0, 179.9999, 180.0):
        for wdt in (0.0, 0.001, 0.7, 25.0):
            rows.append((f"r{rid}", xmin, -45.3, xmin + wdt, -44.1)); rid += 1
    for xmin in (179.0, 179.99, 180.0):          # east stradders
        rows.append((f"r{rid}", xmin, -10.0, xmin + 0.8, -9.0)); rid += 1
    for xmax in (-179.0, -179.99, -180.0):       # west stradders
        rows.append((f"r{rid}", xmax - 0.8, 60.0, xmax, 61.0)); rid += 1
    rows.append((f"r{rid}", 10.0, 89.5, 11.0, 90.0)); rid += 1
    rows.append((f"r{rid}", -180.0, 0.0, 180.0, 1.0)); rid += 1
    rows.append((f"r{rid}", -179.0, 0.0, 181.0, 1.0)); rid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "xmin", "ymin", "xmax", "ymax"]),
        schema="id string, xmin double, ymin double, xmax double, ymax double")
    for res in (3, 9):
        want = sorted((rid_, int(c)) for rid_, *box in rows
                      for c in _covering_reference(*box, res))
        got = sorted(map(tuple, spatial.with_covering_cells(
            df, res).select("id", "cell").collect()))
        assert got == want


def test_block_tiles_matches_scalar_reference(spark, images, images_pdf):
    """r8 guard: the mapInArrow block_tiles (Arrow-buffer payload slices,
    batch decode core, chunked groups) must match a per-image scalar
    reference decode on every format/shape in the fixture."""
    from .test_kernels import _decode_reference

    out = spatial.block_tiles(images, res=12, block=8).toPandas()
    got = {(r.image_id, r.bx, r.by): (r.cell, r.mean_lum)
           for r in out.itertuples()}
    n_exp = 0
    for row in images_pdf.itertuples():
        img = _decode_reference(row.bytes, row.fmt, row.w, row.h)
        nbx, nby = row.w // 8, row.h // 8
        g = img.astype(np.float64).mean(axis=2)
        for by in range(nby):
            for bx in range(nbx):
                n_exp += 1
                lum = g[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8].mean()
                cxv = row.xmin + (bx + 0.5) / nbx * (row.xmax - row.xmin)
                cyv = row.ymax - (by + 0.5) / nby * (row.ymax - row.ymin)
                cell = int(cells.cell_id(np.array([cxv]), np.array([cyv]), 12)[0])
                gcell, glum = got[(row.image_id, bx, by)]
                assert gcell == cell
                assert abs(glum - lum) < 1e-9
    assert len(got) == n_exp


def test_block_tiles_odd_shapes_mixed_formats(spark):
    """Trimmed edges on shapes the fixture lacks: 37x23 keeps its 4x2
    whole blocks, 7x9 and smaller images have no whole block and emit
    nothing; raw/rle/q6 in one batch.  Every tile's cell and mean_lum
    ``==`` a per-image reference over the scalar spec decode (float64
    channel mean, block means summed in the operator's axis order)."""
    from .test_kernels import _decode_reference
    from .test_new_ops import odd_shape_images

    df, rows = odd_shape_images(spark)
    got = {(r.image_id, r.bx, r.by): (r.cell, r.mean_lum)
           for r in spatial.block_tiles(df, res=12, block=8).collect()}
    want = {}
    for iid, data, fmt, w, h, xmin, ymin, xmax, ymax in rows:
        nbx, nby = w // 8, h // 8
        g = _decode_reference(data, fmt, w, h).astype(np.float64).mean(axis=2)
        lum = g[: nby * 8, : nbx * 8].reshape(nby, 8, nbx, 8).mean(axis=(1, 3))
        for by in range(nby):
            for bx in range(nbx):
                cxv = xmin + (bx + 0.5) / nbx * (xmax - xmin)
                cyv = ymax - (by + 0.5) / nby * (ymax - ymin)
                want[(iid, bx, by)] = (
                    int(cells.cell_id(np.array([cxv]), np.array([cyv]), 12)[0]),
                    lum[by, bx])
    assert len(want) == 3 * 2 * 4 * 2
    assert got == want


def test_block_tiles_drops_null_rows(spark, images):
    """Rows with a null payload, fmt, w or h are dropped before the
    Python boundary: the tiles equal those of the remaining rows."""
    from pyspark.sql import functions as F

    from .test_new_ops import _with_null

    sub = images.filter("image_id < 'img0000000008'")
    ids = [f"img{i:010d}" for i in range(4)]
    nulled = sub
    for col, iid in zip(("bytes", "fmt", "w", "h"), ids):
        nulled = _with_null(nulled, col, iid)
    got = sorted(map(tuple, spatial.block_tiles(nulled, res=12).collect()))
    want = sorted(map(tuple, spatial.block_tiles(
        sub.filter(~F.col("image_id").isin(ids)), res=12).collect()))
    assert got == want and len(want) > 0


# --- filters / aggregates (Fiona parity semantics) -------------------------

def test_filter_bbox_and_where(spark, images, images_pdf):
    bbox = (0.0, 0.0, 60.0, 60.0)
    got = filters.filter_bbox(images, bbox).count()
    exp = ((images_pdf.xmax >= bbox[0]) & (images_pdf.xmin <= bbox[2])
           & (images_pdf.ymax >= bbox[1]) & (images_pdf.ymin <= bbox[3])).sum()
    assert got == exp

    w = filters.filter_where(images, "fmt = 'q6' AND w >= 32")
    assert w.count() == ((images_pdf.fmt == "q6") & (images_pdf.w >= 32)).sum()

    both = filters.filter_where(filters.filter_bbox(images, bbox), "fmt = 'raw'")
    expb = (((images_pdf.xmax >= bbox[0]) & (images_pdf.xmin <= bbox[2])
             & (images_pdf.ymax >= bbox[1]) & (images_pdf.ymin <= bbox[3]))
            & (images_pdf.fmt == "raw")).sum()
    assert both.count() == expb


def test_filter_where_error_contract(spark, images):
    from fiona_spark.errors import AttributeFilterError
    with pytest.raises(AttributeFilterError):
        filters.filter_where(images, "fmt >== 'raw'").count()


def test_filter_mask_envelope_vs_exact(spark, images, images_pdf):
    xs = np.array([0.0, 40.0, 40.0, 0.0]); ys = np.array([0.0, 0.0, 30.0, 30.0])
    env = filters.filter_mask(images, xs, ys).count()
    exact = filters.filter_mask(images, xs, ys, exact=True).count()
    # rectangle: envelope == exact
    assert env == exact
    # triangle: envelope over-matches, exact matches oracle
    txs = np.array([0.0, 40.0, 0.0]); tys = np.array([0.0, 0.0, 30.0])
    n_exact = filters.filter_mask(images, txs, tys, exact=True).count()
    oracle = _pip_reference(images_pdf.lng.to_numpy(),
                            images_pdf.lat.to_numpy(), txs, tys).sum()
    assert n_exact == oracle
    assert filters.filter_mask(images, txs, tys).count() >= n_exact


def test_slice_semantics(spark, images, images_pdf):
    ids = sorted(images_pdf.image_id)
    got = [r["image_id"] for r in
           filters.slice_rows(images, 10, 50, 7, "image_id")
           .orderBy("image_id").select("image_id").collect()]
    assert got == ids[10:50:7]
    # negative indices force a count, like the reference
    got_neg = [r["image_id"] for r in
               filters.slice_rows(images, -20, None, 5, "image_id")
               .orderBy("image_id").select("image_id").collect()]
    assert got_neg == ids[-20::5]
    # negative step (reference ogrext.pyx:1852-1910 backwards iteration)
    got_rev = sorted(r["image_id"] for r in
                     filters.slice_rows(images, 50, 10, -7, "image_id")
                     .select("image_id").collect())
    assert got_rev == sorted(ids[50:10:-7])
    with pytest.raises(ValueError):
        filters.slice_rows(images, 0, 10, 0, "image_id")


def test_fid_access(spark, images):
    row = filters.get_fid(images, "img0000000007", "image_id").collect()
    assert len(row) == 1 and row[0]["caption"] == "caption for img7 class=7"
    assert filters.contains_fid(images, "img0000000007", "image_id")
    assert not filters.contains_fid(images, "nope", "image_id")


def test_calc_overwrite_contract(spark, images):
    out = filters.calc(images, "area_deg", "(xmax - xmin) * (ymax - ymin)")
    assert "area_deg" in out.columns
    with pytest.raises(ValueError):
        filters.calc(images, "caption", "'x'")
    assert filters.calc(images, "caption", "'x'", overwrite=True).count() == N_IMG


def test_extent_and_grouped_bounds(spark, images, images_pdf):
    ext = aggregates.extent(images).collect()[0]
    assert ext["xmin"] == images_pdf.xmin.min()
    assert ext["ymax"] == images_pdf.ymax.max()
    g = aggregates.bounds_grouped(images, ["fmt"]).orderBy("fmt").toPandas()
    exp = images_pdf.groupby("fmt").agg(xmin=("xmin", "min"), ymax=("ymax", "max"))
    assert np.allclose(g.set_index("fmt")["xmin"], exp["xmin"])


def test_feature_bounds_from_arrays(spark, zones, zones_pdf):
    got = (aggregates.feature_bounds(zones.drop("xmin", "ymin", "xmax", "ymax"))
           .orderBy("zone_id").select("xmin", "ymax").toPandas())
    assert np.allclose(got["xmin"], [np.min(v) for v in zones_pdf["xs"]])
    assert np.allclose(got["ymax"], [np.max(v) for v in zones_pdf["ys"]])


def test_info_and_dissolve(spark, zones, zones_pdf):
    meta = aggregates.info(zones)
    assert meta["count"] == N_ZONES
    assert meta["schema"]["NAME"] == "string"
    rxs, rys, exact = aggregates.dissolve_union(zones)
    if exact:
        # r3 exact two-stage union: membership differential on a dense
        # grid — inside the union rings (even-odd) iff inside any zone
        px = np.concatenate([np.asarray(v) for v in zones_pdf["xs"]])
        py = np.concatenate([np.asarray(v) for v in zones_pdf["ys"]])
        gx, gy = np.meshgrid(np.linspace(px.min(), px.max(), 80),
                             np.linspace(py.min(), py.max(), 80))
        gx, gy = gx.ravel(), gy.ravel()
        want = np.zeros(len(gx), dtype=bool)
        for v, w in zip(zones_pdf["xs"], zones_pdf["ys"]):
            want |= _pip_reference(
                gx, gy, np.asarray(v, np.float64), np.asarray(w, np.float64))
        got = geom.points_in_rings(gx, gy, rxs, rys)
        assert (want == got).all()
    else:
        # degeneracy fallback: hull of the union contains every vertex
        px = np.concatenate([np.asarray(v) for v in zones_pdf["xs"]])
        py = np.concatenate([np.asarray(v) for v in zones_pdf["ys"]])
        bx, by = geom.buffer_convex(rxs[0], rys[0], 1e-9)
        assert _pip_reference(px, py, bx, by).mean() > 0.999


def test_dissolve_union_exact_two_stage(spark):
    """Exact global dissolve across partitions: overlapping + disjoint
    squares spread over many partitions -> exact multi-ring union
    (area differential vs direct single-shot kernel union)."""
    import pandas as pd
    rng = np.random.default_rng(5)
    rows = []
    for i in range(200):
        cx, cy = rng.uniform(0, 40, 2)
        w, h = rng.uniform(0.5, 3.0, 2)
        rows.append({"xs": [cx, cx + w, cx + w, cx],
                     "ys": [cy, cy, cy + h, cy + h]})
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf).repartition(16)
    rxs, rys, exact = aggregates.dissolve_union(df)
    assert exact
    direct_x, direct_y = polygon_union(
        [r["xs"] for r in rows], [r["ys"] for r in rows])
    assert union_area(rxs, rys) == pytest.approx(
        union_area(direct_x, direct_y), rel=1e-12)


def test_fixture_phash_recomputable(spark, images):
    """phash column == phash recomputed from payload (input_hint invariant)."""
    from fiona_spark import codec

    def recompute(batches):
        for p in batches:
            vals = [codec.phash64(codec.decode(bytes(b), f, int(w), int(h)))
                    for b, f, w, h in zip(p["bytes"], p["fmt"], p["w"], p["h"])]
            yield pd.DataFrame({"image_id": p["image_id"], "stored": p["phash"],
                                "fresh": vals})

    out = (images.mapInPandas(recompute, "image_id string, stored long, fresh long")
           .filter("stored <> fresh").count())
    assert out == 0


def test_knn_fused_matches_staged_including_sparse_tail(spark, zones):
    """Fused one-pass kNN == the past-guard staged cascade (shuffled zone
    side) on a point set that forces every path: dense cells, sparse
    tail (polar points far from any zone -> exact fallback), and at
    least one exact-tie candidate."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(23)
    pdf = pd.DataFrame({
        "image_id": [f"p{i:04d}" for i in range(400)],
        "lng": np.concatenate([rng.uniform(-180, 180, 380),
                               rng.uniform(-180, 180, 20)]),
        "lat": np.concatenate([rng.uniform(-60, 60, 380),
                               rng.uniform(85, 89, 20)])})  # sparse tail
    pts = spark.createDataFrame(pdf)
    fused = spatial.knn_join(pts, zones, k=3).toPandas()
    staged = spatial.knn_join(pts, zones, k=3, max_broadcast_zones=5,
                              eager_cleanup=False).toPandas()
    key = ["image_id", "knn_rank"]
    f = fused.sort_values(key).reset_index(drop=True)
    s = staged.sort_values(key).reset_index(drop=True)
    assert f[["image_id", "zone_id", "knn_rank"]].equals(
        s[["image_id", "zone_id", "knn_rank"]])


def _hostile_points(spark, images_pdf, zones_pdf):
    """12 fixture points that hit a zone and 12 that miss, plus a far
    miss, a NaN and a null coordinate on each axis, with a second (long)
    point column; round-robin into more partitions than rows, so some
    partitions hold zero rows and some a single point that hits no
    zone."""
    hit = images_pdf.image_id.isin(
        {i for i, _ in _pip_oracle(images_pdf, zones_pdf)})
    pdf = pd.concat([images_pdf[hit].head(12), images_pdf[~hit].head(12)],
                    ignore_index=True)[["image_id", "lng", "lat"]]
    pdf["tag"] = np.arange(len(pdf), dtype=np.int64) * 7
    extra = pd.DataFrame({
        "image_id": ["far", "nan_lng", "nan_lat", "null_lng", "null_lat"],
        "lng": [0.5, np.nan, 10.0, None, 10.0],
        "lat": [-89.5, 10.0, np.nan, 10.0, None],
        "tag": np.arange(100, 105, dtype=np.int64)})
    pdf = pd.concat([pdf, extra], ignore_index=True)
    # a pandas NaN arrives as null: set the NaN rows in SQL
    pts = (spark.createDataFrame(
        pdf, "image_id string, lng double, lat double, tag long")
        .selectExpr("image_id", "tag", *(
            f"IF(image_id = 'nan_{c}', double('NaN'), {c}) AS {c}"
            for c in ("lng", "lat"))))
    assert pts.filter("lng IS NULL OR lat IS NULL").count() == 2
    assert pts.filter("isnan(lng) OR isnan(lat)").count() == 2
    return pdf, pts.repartition(len(pdf) + 3)


def _int_keyed_zones(spark, zones_pdf):
    """The fixture zones with an integer key ``zid`` whose order is the
    reverse of ``zone_id``'s."""
    zid = (len(zones_pdf) - np.arange(len(zones_pdf), dtype=np.int64)) * 3
    return zid, spark.createDataFrame(zones_pdf.assign(zid=zid),
                                      schema=fixtures.ZONES_SCHEMA + ", zid long")


def test_pip_fused_lane_flat_output_matches_shuffled(spark, images_pdf,
                                                      zones_pdf):
    """Fused mapInArrow lane == cogrouped lane == brute force, with two
    point columns, two zone columns (an integer zone key first), zero-row
    partitions, no-hit batches and null/NaN coordinates."""
    pdf, pts = _hostile_points(spark, images_pdf, zones_pdf)
    zid, z = _int_keyed_zones(spark, zones_pdf)
    kw = dict(res=RES, point_cols=("image_id", "tag"),
              zone_cols=("zid", "NAME"))
    fused = spatial.pip_join(pts, z, **kw)
    shuffled = spatial.pip_join(pts, z, max_broadcast_zones=0, **kw)
    assert fused.schema == shuffled.schema
    assert fused.schema["zid"].dataType.typeName() == "long"
    got_f = sorted(map(tuple, fused.collect()))
    got_s = sorted(map(tuple, shuffled.collect()))
    finite = pdf[np.isfinite(pdf.lng.astype(float))
                 & np.isfinite(pdf.lat.astype(float))]
    tag = dict(zip(pdf.image_id, pdf.tag))
    zinfo = dict(zip(zones_pdf.zone_id, zip(zid, zones_pdf.NAME)))
    exp = sorted((i, tag[i], *zinfo[zone])
                 for i, zone in _pip_oracle(finite, zones_pdf))
    assert got_f == got_s == exp
    assert len(exp) >= 12


def test_knn_fused_lane_flat_output_matches_staged(spark, images_pdf,
                                                    zones_pdf):
    """Fused mapInArrow kNN == the staged lane on an integer zone key,
    with zero-row partitions and null/NaN coordinates (those rank the
    first k zones by key on both lanes: every distance ties)."""
    pdf, pts = _hostile_points(spark, images_pdf, zones_pdf)
    zid, z = _int_keyed_zones(spark, zones_pdf)
    kw = dict(k=3, point_key="image_id", zone_key="zid")
    fused = spatial.knn_join(pts, z, **kw)
    staged = spatial.knn_join(pts, z, max_broadcast_zones=0,
                              eager_cleanup=False, **kw)
    assert fused.schema.fieldNames() == ["image_id", "zid", "knn_rank"]
    assert fused.schema["zid"].dataType.typeName() == "long"
    got_f = sorted(map(tuple, fused.collect()))
    assert got_f == sorted(map(tuple, staged.collect()))
    assert len(got_f) == 3 * len(pdf)
    first3 = sorted(zid)[:3]
    for bad in ("nan_lng", "nan_lat", "null_lng", "null_lat"):
        assert [r[1] for r in got_f if r[0] == bad] == first3


def test_knn_null_and_nan_centroid_zones_dropped(spark):
    """A zone with a null or NaN centroid has no distance: both lanes
    drop it in the plan and rank only the located zones (the shuffled
    lane used to rank a null centroid first, the fused lane last)."""
    z = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 1.0, 1.0), ("c", None, None),
         ("d", 2.0, 2.0), ("e", float("nan"), 3.0)],
        "zone_id string, clng double, clat double")
    pts = spark.createDataFrame([("q", 120.0, -60.0)],
                                "image_id string, lng double, lat double")
    exp = [("q", "a", 3), ("q", "b", 2), ("q", "d", 1)]
    for guard in (spatial.MAX_BROADCAST_ZONES, 0):
        got = spatial.knn_join(pts, z, k=4, max_broadcast_zones=guard)
        assert sorted(map(tuple, got.collect())) == exp


def test_knn_split_lane_matches_fused(spark, zones, monkeypatch):
    """60 points in one coarsest-level cell (res 6, levels 6/4/2: r_min
    2) plus a polar tail, with KNN_GROUP_ROWS patched to 4: the hot
    cell's points split over 15 groups and its zones replicate to each,
    and the past-guard lane returns exactly the fused lane's rows, none
    dropped or doubled."""
    rng = np.random.default_rng(41)
    lng = np.concatenate([rng.uniform(5, 20, 60), rng.uniform(-180, 180, 10)])
    lat = np.concatenate([rng.uniform(30, 44, 60), rng.uniform(85, 89, 10)])
    assert len(set(cells.cell_id(lng[:60], lat[:60], 2))) == 1
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"s{i:03d}" for i in range(70)], "lng": lng, "lat": lat}))
    monkeypatch.setattr(spatial, "KNN_GROUP_ROWS", 4)
    hot, hot_cells = [], spatial.hot_cells
    monkeypatch.setattr(spatial, "hot_cells", lambda *a: hot.extend(
        r["count"] for r in hot_cells(*a).collect()) or hot_cells(*a))
    fused = spatial.knn_join(pts, zones, k=3, res=6).collect()
    split = spatial.knn_join(pts, zones, k=3, res=6,
                             max_broadcast_zones=0).collect()
    assert 60 in hot and len(fused) == 3 * 70
    assert sorted(map(tuple, split)) == sorted(map(tuple, fused))
