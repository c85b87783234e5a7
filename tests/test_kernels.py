"""Kernel unit tests (no Spark): cells, geom, codec, quantized dot."""

import numpy as np
import pytest

from fiona_spark import cells, codec, geom


# ---------------------------------------------------------------------------
# cells
# ---------------------------------------------------------------------------

def test_cell_pack_roundtrip():
    rng = np.random.default_rng(42)
    for res in (0, 1, 7, 12, 20, 26):
        n = 1 << res
        xi = rng.integers(0, n, 100)
        yi = rng.integers(0, n, 100)
        c = cells.pack(xi, yi, res)
        x2, y2, r2 = cells.unpack(c)
        assert (x2 == xi).all() and (y2 == yi).all() and (r2 == res).all()


def test_cell_id_bounds_contain_point():
    rng = np.random.default_rng(7)
    lng = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    c = cells.cell_id(lng, lat, 12)
    w, s, e, n = cells.cell_bounds(c)
    assert (lng >= w).all() and (lng < e + 1e-9).all()
    assert (lat >= s).all() and (lat < n + 1e-9).all()


def test_parent_is_prefix_hierarchy():
    c = cells.cell_id([10.3], [45.7], 12)
    p = cells.parent(c)
    # the parent must contain the child's bounds
    cw, cs, ce, cn = cells.cell_bounds(c)
    pw, ps, pe, pn = cells.cell_bounds(p)
    assert pw <= cw and ps <= cs and pe >= ce and pn >= cn
    # parent of a point's cell == point's cell at res-1
    assert (p == cells.cell_id([10.3], [45.7], 11)).all()


def test_cells_covering_matches_counts():
    xmin, ymin, xmax, ymax = np.array([10.0]), np.array([40.0]), np.array([10.4]), np.array([40.3])
    cov = cells.cells_covering(xmin, ymin, xmax, ymax, 10)
    cnt = cells.covering_counts(xmin, ymin, xmax, ymax, 10)
    assert len(cov[0]) == cnt[0]
    # every covering cell's bounds intersect the bbox
    w, s, e, n = cells.cell_bounds(cov[0])
    assert (e >= xmin[0]).all() and (w <= xmax[0]).all()
    assert (n >= ymin[0]).all() and (s <= ymax[0]).all()
    # and the point-cells of bbox corners are in the covering
    corners = cells.cell_id([10.0, 10.4], [40.0, 40.3], 10)
    assert set(corners.tolist()) <= set(cov[0].tolist())


def test_ring_sizes_and_wrap():
    c = cells.cell_id([0.0], [0.0], 8)
    assert len(cells.ring(c, 0)[0]) == 1
    assert len(cells.ring(c, 1)[0]) == 8
    assert len(cells.ring(c, 2)[0]) == 16
    # antimeridian wrap: cell at lng=-179.9 ring contains cell at 179.9
    a = cells.cell_id([-179.9], [0.0], 8)
    b = cells.cell_id([179.9], [0.0], 8)
    assert b[0] in cells.ring(a, 1)[0]


def test_disk_is_union_of_rings():
    c = cells.cell_id([5.0], [5.0], 9)
    d = set(cells.disk(c, 2)[0].tolist())
    u = set()
    for r in range(3):
        u |= set(cells.ring(c, r)[0].tolist())
    assert d == u


def test_covering_res_for_bounds_cell_count():
    xmin = np.array([10.0, -170.0]); xmax = np.array([10.5, -169.0])
    ymin = np.array([0.0, 50.0]); ymax = np.array([0.5, 51.0])
    res = cells.covering_res_for(xmin, ymin, xmax, ymax, max_cells=64)
    cnt = cells.covering_counts(xmin, ymin, xmax, ymax, res)
    assert (cnt <= 64).all() and res > 0


def test_cell_id_sql_matches_numpy_duckdb():
    import duckdb
    rng = np.random.default_rng(3)
    lng = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    res = 12
    expected = cells.cell_id(lng, lat, res)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lng": lng, "lat": lat}))
    sql = cells.cell_id_sql("lng", "lat", res)
    got = con.sql(f"SELECT {sql} AS c FROM pts").fetchnumpy()["c"]
    assert (got == expected).all()


# ---------------------------------------------------------------------------
# geom
# ---------------------------------------------------------------------------

def _pip_reference(px, py, poly_x, poly_y):
    """Spec reference for the packed PIP kernel: many points against ONE
    ring as one (edges x points) numpy broadcast.  The ring is closed
    unless its last vertex repeats its first; an empty ring contains
    nothing.  Same crossing rule and x-intersection expression as
    ``geom.points_in_edges_packed``, so results compare with ``==``."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(poly_x, dtype=np.float64)
    ys = np.asarray(poly_y, dtype=np.float64)
    if len(xs) and (xs[0] != xs[-1] or ys[0] != ys[-1]):
        xs, ys = np.append(xs, xs[0]), np.append(ys, ys[0])
    x0, y0 = xs[:-1, None], ys[:-1, None]
    x1, y1 = xs[1:, None], ys[1:, None]
    cond = (y0 > py[None, :]) != (y1 > py[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py[None, :] - y0) / (y1 - y0) * (x1 - x0)
    crossing = cond & (px[None, :] < xint)
    return (crossing.sum(axis=0) % 2).astype(bool)


def test_pip_square():
    xs = np.array([0.0, 10.0, 10.0, 0.0])
    ys = np.array([0.0, 0.0, 10.0, 10.0])
    px = np.array([5.0, 15.0, -1.0, 9.99])
    py = np.array([5.0, 5.0, 5.0, 0.01])
    assert geom.points_in_rings(px, py, [xs], [ys]).tolist() == [True, False, False, True]


def test_pip_concave():
    # L-shape: (0,0)(4,0)(4,2)(2,2)(2,4)(0,4)
    xs = np.array([0, 4, 4, 2, 2, 0], dtype=float)
    ys = np.array([0, 0, 2, 2, 4, 4], dtype=float)
    px = np.array([1.0, 3.0, 3.0, 1.0])
    py = np.array([1.0, 1.0, 3.0, 3.0])
    assert geom.points_in_rings(px, py, [xs], [ys]).tolist() == [True, True, False, True]


def polygon_union(polys_x, polys_y, max_edges: int = 200_000):
    """Reference union of simple single-ring polygons: one ring per
    feature through ``geom.feature_union`` (outer rings CCW, holes CW,
    so ``union_area`` of the result is the exact union area).

    Pinch vertices (checkerboard corner touches) resolve exactly by
    clockwise face traversal; do not reintroduce a raise there.
    ``UnionDegeneracyError`` remains only for sub-eps proximity and open
    chains.  Ring order and rotation of the output depend on the input
    order: canonicalize before comparing rings."""
    return geom.feature_union([[rx] for rx in polys_x],
                              [[ry] for ry in polys_y], max_edges)


def union_area(rings_xs, rings_ys) -> float:
    """SIGNED shoelace sum over union output rings (outer CCW positive,
    holes CW negative) = exact union area."""
    tot = 0.0
    for xs, ys in zip(rings_xs, rings_ys):
        xs = np.asarray(xs, np.float64); ys = np.asarray(ys, np.float64)
        tot += float(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys)) * 0.5
    return tot


def cut_antimeridian_bbox(xmin, ymin, xmax, ymax):
    """Reference split of bboxes that wrap past +/-180 (xmin > xmax)
    into up to two boxes: a list of (xmin, ymin, xmax, ymax) per row."""
    out = []
    xmin = np.atleast_1d(np.asarray(xmin, np.float64))
    xmax = np.atleast_1d(np.asarray(xmax, np.float64))
    ymin = np.atleast_1d(np.asarray(ymin, np.float64))
    ymax = np.atleast_1d(np.asarray(ymax, np.float64))
    for i in range(len(xmin)):
        if xmin[i] > xmax[i]:
            out.append([(xmin[i], ymin[i], 180.0, ymax[i]),
                        (-180.0, ymin[i], xmax[i], ymax[i])])
        else:
            out.append([(xmin[i], ymin[i], xmax[i], ymax[i])])
    return out


def _grid_ring(rng, cx, cy, r, nv, snap=True):
    """Ring of ``nv`` vertices around (cx, cy), grid-snapped unless
    ``snap`` is false, closed explicitly half of the time."""
    draw = ((lambda: rng.integers(-r, r + 1, nv).astype(np.float64))
            if snap else (lambda: rng.uniform(-r, r, nv)))
    xs, ys = cx + draw(), cy + draw()
    if nv and rng.random() < 0.5:
        xs, ys = np.append(xs, xs[0]), np.append(ys, ys[0])
    return xs, ys


def _grid_features(kind, rng):
    """(features, centers, r): each feature a (rings_x, rings_y) pair."""
    r = 5
    n_feat = 30 if kind == "many" else 6
    feats, centers = [], []
    for f in range(n_feat):
        cx = ((178.0, -178.0)[f % 2] if kind == "wrap"
              else float(rng.integers(-150, 150)))
        cy = float(rng.integers(-60, 60))
        if kind == "holes":       # shell, holes, an island in a hole
            rings = [_grid_ring(rng, cx, cy, r, int(rng.integers(3, 41)))]
            rings += [_grid_ring(rng, cx, cy, k, int(rng.integers(3, 9)))
                      for k in (3, 2, 1)]
        elif kind == "multipart":  # two parts, apart or overlapping
            rings = [_grid_ring(rng, cx + dx, cy, 2, int(rng.integers(3, 9)))
                     for dx in (-3, int(rng.integers(0, 4)))]
        else:                       # 0, 1 and 2 vertices included
            nv = (0, 1, 2)[f] if f < 3 else int(rng.integers(3, 41))
            rings = [_grid_ring(rng, cx, cy, r, nv, kind != "float")]
        feats.append(([x for x, _ in rings], [y for _, y in rings]))
        centers.append((cx, cy))
    return feats, np.array(centers), r


PIP_KINDS = ["single", "holes", "multipart", "many", "nan", "wrap", "float"]


@pytest.mark.parametrize("kind", PIP_KINDS)
def test_pip_kernels_match_reference(kind):
    """points_in_edges_packed, points_in_rings and points_in_features
    equal _pip_reference (XOR over a feature's rings) with ``==`` on
    grid-snapped rings and points — points land exactly on vertices and
    edges — over closed/open rings with 0-40 vertices, holes,
    multipart features, many features under a random fidx, NaN points,
    antimeridian features (against the reference at +/-360), and
    unsnapped float coordinates."""
    rng = np.random.default_rng(PIP_KINDS.index(kind))
    feats, centers, r = _grid_features(kind, rng)
    n = 3000
    fidx = rng.integers(0, len(feats), n)
    step = (rng.uniform(-r - 1, r + 1, (2, n)) if kind == "float"
            else rng.integers(-2 * r - 2, 2 * r + 3, (2, n)) * 0.5)
    px = centers[fidx, 0] + step[0]
    py = centers[fidx, 1] + step[1]
    if kind == "wrap":             # probes past +/-180 arrive wrapped
        px = (px + 180.0) % 360.0 - 180.0
    if kind == "nan":
        px[rng.random(n) < 0.1] = np.nan
        py[rng.random(n) < 0.1] = np.nan

    def reference(x, y, f):
        out = np.zeros(len(x), dtype=bool)
        for rx, ry in zip(*feats[f]):
            out ^= _pip_reference(x, y, rx, ry)
        return out

    want = np.zeros(n, dtype=bool)
    want_wrap = np.zeros(n, dtype=bool)
    got_rings = np.zeros(n, dtype=bool)
    for f in range(len(feats)):
        i = np.flatnonzero(fidx == f)
        want[i] = reference(px[i], py[i], f)
        want_wrap[i] = want[i]
        allx = np.concatenate([np.empty(0), *feats[f][0]])
        if len(allx) and (allx.max() > 180.0 or allx.min() < -180.0):
            for shift in (360.0, -360.0):
                want_wrap[i] |= reference(px[i] + shift, py[i], f)
        got_rings[i] = geom.points_in_rings(px[i], py[i], *feats[f])
    edges = geom.pack_feature_edges([f[0] for f in feats],
                                    [f[1] for f in feats])
    got_packed = geom.points_in_edges_packed(px, py, fidx, *edges)
    got_feats = geom.points_in_features(
        px, py, fidx, edges, geom.feature_vertex_bounds(edges))
    assert (got_packed == want).all()
    assert (got_rings == want).all()
    assert (got_feats == want_wrap).all()
    assert 0 < want.sum() < n            # a non-trivial mix
    if kind == "wrap":
        assert (want_wrap & ~want).any()  # the +/-360 retest matters


def test_shoelace_and_centroid():
    xs = np.array([0.0, 4.0, 4.0, 0.0]); ys = np.array([0.0, 0.0, 3.0, 3.0])
    assert geom.shoelace_area(xs, ys) == pytest.approx(12.0)
    assert geom.centroid(xs, ys) == pytest.approx((2.0, 1.5))
    assert geom.ring_length(xs, ys) == pytest.approx(14.0)


def test_crs_roundtrips():
    rng = np.random.default_rng(5)
    lng = rng.uniform(-179, 179, 100); lat = rng.uniform(-84, 84, 100)
    x, y = geom.to_6933(lng, lat)
    l2, p2 = geom.from_6933(x, y)
    np.testing.assert_allclose(l2, lng, atol=1e-9)
    np.testing.assert_allclose(p2, lat, atol=1e-9)
    x, y = geom.to_3857(lng, lat)
    l2, p2 = geom.from_3857(x, y)
    np.testing.assert_allclose(l2, lng, atol=1e-9)
    np.testing.assert_allclose(p2, lat, atol=1e-9)


def test_equal_area_property_6933():
    # equal-area: a 1x1 deg cell at equator and at 60N map to equal areas
    for lat0 in (0.0, 60.0):
        xs, ys = geom.to_6933(np.array([0.0, 1.0, 1.0, 0.0]),
                              np.array([lat0, lat0, lat0 + 1, lat0 + 1]))
        # approx area via trapezoid in projected plane
        a = (xs[1] - xs[0]) * (ys[2] - ys[1])
        if lat0 == 0.0:
            a0 = a
    # cylindrical equal-area: d(sin lat) spacing keeps areas equal
    assert a == pytest.approx(a0 * (np.sin(np.deg2rad(61)) - np.sin(np.deg2rad(60)))
                              / (np.sin(np.deg2rad(1)) - 0.0), rel=1e-12)


def test_haversine_known():
    # 1 degree of longitude at the equator on sphere R=6378137:
    # R * pi/180 = 111319.49 m
    d = geom.haversine_m([0.0], [0.0], [1.0], [0.0])
    assert d[0] == pytest.approx(111319.49, rel=1e-6)


def test_douglas_peucker():
    # all interior points within tol of the chord -> dropped
    xs = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    ys = np.array([0.0, 0.001, 0.002, 0.001, 0.0])
    keep = geom.douglas_peucker(xs, ys, tol=0.01)
    assert keep.tolist() == [True, False, False, False, True]
    # tighter tol keeps the farthest interior point
    keep2 = geom.douglas_peucker(xs, ys, tol=0.0001)
    assert keep2[0] and keep2[2] and keep2[4]


def test_antimeridian_cut():
    parts = cut_antimeridian_bbox([179.0], [-10.0], [-179.0], [10.0])[0]
    assert len(parts) == 2
    assert parts[0][0] == 179.0 and parts[0][2] == 180.0
    assert parts[1][0] == -180.0 and parts[1][2] == -179.0


def test_convex_hull_and_buffer():
    rng = np.random.default_rng(2)
    px, py = rng.uniform(0, 10, 50), rng.uniform(0, 10, 50)
    hx, hy = geom.convex_hull(px, py)
    assert _pip_reference(np.array([5.0]), np.array([5.0]), hx, hy)[0]
    bx, by = geom.buffer_convex(hx, hy, 2.0)
    # buffered hull contains all original hull vertices
    assert _pip_reference(hx, hy, bx, by).all()


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def _test_image(seed, w=32, h=16):
    rng = np.random.default_rng(seed)
    ramp = np.linspace(0, 255, w, dtype=np.float64)
    img = np.empty((h, w, 3), dtype=np.uint8)
    for ch in range(3):
        img[:, :, ch] = (ramp[None, :] + rng.integers(0, 30, (h, w))).clip(0, 255)
    return img


# Scalar spec references for the batch codec core: one image at a time,
# generic bit streams, the per-bit hash loop.

def _pack_bits_reference(vals, bits):
    bitarr = np.unpackbits(np.asarray(vals, np.uint8)[:, None], axis=1,
                           bitorder="little")[:, :bits]
    return np.packbits(bitarr.ravel(), bitorder="little").tobytes()


def _unpack_bits_reference(data, bits, count):
    bitarr = np.unpackbits(np.frombuffer(data, np.uint8),
                           bitorder="little")[: count * bits]
    return np.packbits(bitarr.reshape(count, bits), axis=1,
                       bitorder="little")[:, 0]


def _encode_reference(img, fmt):
    flat = np.ascontiguousarray(img, dtype=np.uint8).reshape(-1)
    if fmt == "raw":
        return flat.tobytes()
    if fmt == "q6":
        return _pack_bits_reference(flat >> 2, 6)
    if fmt == "q4":
        return _pack_bits_reference(flat >> 4, 4)
    assert fmt == "rle"
    pairs = []
    i = 0
    while i < flat.size:
        j = i
        while j < flat.size and flat[j] == flat[i] and j - i < 255:
            j += 1
        pairs += [j - i, int(flat[i])]
        i = j
    return bytes(pairs)


def _decode_reference(data, fmt, w, h):
    n = w * h * 3
    if fmt == "raw":
        flat = np.frombuffer(data, dtype=np.uint8, count=n)
    elif fmt == "rle":
        pairs = np.frombuffer(data, dtype=np.uint8)
        flat = np.repeat(pairs[1::2], pairs[0::2].astype(np.int64))
        assert flat.size == n
    elif fmt == "q6":
        q = _unpack_bits_reference(data, 6, n)
        flat = (q.astype(np.uint16) * 255 // 63).astype(np.uint8)
    else:
        q = _unpack_bits_reference(data, 4, n)
        flat = (q.astype(np.uint16) * 17).astype(np.uint8)
    return flat.reshape(h, w, 3)


def _phash_reference(img):
    h, w = img.shape[0], img.shape[1]
    gray = ((77 * img[:, :, 0].astype(np.uint32)
             + 150 * img[:, :, 1].astype(np.uint32)
             + 29 * img[:, :, 2].astype(np.uint32)) >> 8)
    bh, bw = h // 8, w // 8
    g = gray[: bh * 8, : bw * 8].reshape(8, bh, 8, bw)
    means = g.sum(axis=(1, 3), dtype=np.int64)
    bits = (means > np.median(means)).ravel()
    out = 0
    for i in range(64):
        if bits[i]:
            out |= 1 << i
    return out - (1 << 64) if out >= 1 << 63 else out


def _psnr_reference(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0.0 else float(10.0 * np.log10(255.0 ** 2 / mse))


def test_raw_rle_lossless():
    img = _test_image(42)
    for fmt in ("raw", "rle"):
        data = codec.encode(img, fmt)
        out = codec.decode(data, fmt, 32, 16)
        assert (out == img).all()
    # rle compresses constant images massively
    flat = np.zeros((16, 32, 3), dtype=np.uint8)
    assert len(codec.encode(flat, "rle")) < 32


def test_q6_meets_psnr_gate_q4_does_not():
    img = _test_image(1, 64, 64)
    d6 = codec.decode(codec.encode(img, "q6"), "q6", 64, 64)
    d4 = codec.decode(codec.encode(img, "q4"), "q4", 64, 64)
    assert codec.psnr(img, d6) >= 40.0
    assert codec.psnr(img, d4) < 40.0


def test_q6_size():
    img = _test_image(3, 32, 32)
    assert len(codec.encode(img, "q6")) == (32 * 32 * 3 * 6 + 7) // 8


def test_psnr_identity_inf():
    img = _test_image(9)
    assert codec.psnr(img, img) == float("inf")


def test_phash_properties():
    img = _test_image(42, 64, 64)
    h1 = codec.phash64(img)
    assert isinstance(h1, int)
    # stable under q6 quantization (near-dup robustness)
    d6 = codec.decode(codec.encode(img, "q6"), "q6", 64, 64)
    assert codec.hamming64([h1], [codec.phash64(d6)])[0] <= 6
    # different image -> large distance
    h2 = codec.phash64(_test_image(1000, 64, 64)[:, ::-1][::-1])
    assert codec.hamming64([h1], [h2])[0] >= 4


def test_hamming64():
    assert codec.hamming64([0], [0])[0] == 0
    assert codec.hamming64([-1], [0])[0] == 64
    assert codec.hamming64([0b1011], [0b0001])[0] == 2


def test_edges_packed_holes_and_multipolygon():
    """Even-odd parity over packed feature edges: hole interior is OUT,
    island-in-hole is IN, disjoint MultiPolygon parts are both IN."""
    sq = lambda cx, cy, r: (np.array([cx - r, cx + r, cx + r, cx - r]),
                            np.array([cy - r, cy - r, cy + r, cy + r]))
    # feature 0: square with a square hole and an island inside the hole
    f0_x, f0_y = zip(sq(0, 0, 4), sq(0, 0, 2), sq(0, 0, 0.5))
    # feature 1: two disjoint squares (MultiPolygon)
    f1_x, f1_y = zip(sq(10, 0, 1), sq(14, 0, 1))
    eo, ex0, ey0, ex1, ey1 = geom.pack_feature_edges(
        [list(f0_x), list(f1_x)], [list(f0_y), list(f1_y)])
    px = np.array([3.0, 1.0, 0.0, 10.0, 14.0, 12.0, 0.0])
    py = np.array([0.0, 1.0, 0.0, 0.5, -0.5, 0.0, 10.0])
    fi = np.array([0, 0, 0, 1, 1, 1, 0])
    got = geom.points_in_edges_packed(px, py, fi, eo, ex0, ey0, ex1, ey1)
    #      shell  hole   island part1  part2  gap   outside
    assert got.tolist() == [True, False, True, True, True, False, False]


def test_points_in_rings_equals_xor_of_rings():
    sq = lambda cx, cy, r: (np.array([cx - r, cx + r, cx + r, cx - r]),
                            np.array([cy - r, cy - r, cy + r, cy + r]))
    outer, hole = sq(0, 0, 3), sq(0, 0, 1)
    px = np.array([2.0, 0.0, 5.0])
    py = np.array([0.0, 0.0, 0.0])
    got = geom.points_in_rings(px, py, [outer[0], hole[0]], [outer[1], hole[1]])
    assert got.tolist() == [True, False, False]


def test_douglas_peucker_segment_distance_guarantee():
    """Every dropped vertex lies within tol of the simplified polyline
    (SEGMENT distance, the GEOS convention) — the infinite-line variant
    violated this for points beyond a segment end (found by fuzz)."""
    def pt_seg(px, py, ax, ay, bx, by):
        ex, ey = bx - ax, by - ay
        L2 = ex * ex + ey * ey
        t = 0.0 if L2 == 0 else np.clip(
            ((px - ax) * ex + (py - ay) * ey) / L2, 0, 1)
        return np.hypot(px - (ax + t * ex), py - (ay + t * ey))

    rng = np.random.default_rng(13)
    for trial in range(80):
        n = int(rng.integers(5, 60))
        xs = np.cumsum(rng.uniform(-1, 2, n))
        ys = rng.standard_normal(n).cumsum()
        tol = float(rng.uniform(0.05, 2.0))
        keep = geom.douglas_peucker(xs, ys, tol)
        kx, ky = xs[keep], ys[keep]
        for i in range(n):
            if keep[i]:
                continue
            d = min(pt_seg(xs[i], ys[i], kx[j], ky[j],
                           kx[j + 1], ky[j + 1])
                    for j in range(len(kx) - 1))
            assert d <= tol + 1e-9, f"trial {trial} vertex {i}"


def test_convex_hull_contains_all_points_fuzz():
    """100 random point sets (incl. grid-snapped collinear-heavy):
    every input point lies inside or exactly on the hull boundary."""
    def pt_seg(px, py, ax, ay, bx, by):
        ex, ey = bx - ax, by - ay
        L2 = ex * ex + ey * ey
        t = 0.0 if L2 == 0 else np.clip(
            ((px - ax) * ex + (py - ay) * ey) / L2, 0, 1)
        return np.hypot(px - (ax + t * ex), py - (ay + t * ey))

    rng = np.random.default_rng(17)
    for trial in range(100):
        n = int(rng.integers(3, 200))
        px = rng.uniform(-10, 10, n)
        py = rng.uniform(-10, 10, n)
        if rng.random() < 0.3:
            px = np.round(px); py = np.round(py)
        hx, hy = geom.convex_hull(px, py)
        if len(hx) < 3:
            continue
        inside = _pip_reference(px, py, hx, hy)
        m = len(hx)
        for i in np.nonzero(~inside)[0]:
            d = min(pt_seg(px[i], py[i], hx[j], hy[j],
                           hx[(j + 1) % m], hy[(j + 1) % m])
                    for j in range(m))
            assert d <= 1e-9, f"trial {trial} point {i} outside by {d}"


def test_codec_matches_scalar_references():
    """decode, decode_batch, encode and phash64 equal the scalar spec
    references with ``==`` for every format on square, odd, 1x1 and
    one-row shapes (q6/q4 partial bit groups), RLE runs over 255 and
    two identical adjacent images (runs meeting at an image boundary).
    RLE also gets runs of exactly 255 (no split) and 256 (one split),
    and a stack whose 255-runs end exactly at an image boundary where
    the next image starts with the same value, encoded as one batch."""
    rng = np.random.default_rng(7)
    for fmt in ("raw", "rle", "q6", "q4"):
        for (w, h) in ((16, 16), (37, 23), (3, 5), (1, 1), (7, 1)):
            imgs = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                    for _ in range(3)]
            imgs.append(np.full((h, w, 3), 9, np.uint8))   # runs > 255
            imgs.append(imgs[-1].copy())                    # identical pair
            imgs.append((rng.integers(0, 2, (h, w, 3)) * 200).astype(np.uint8))
            n = 3 * w * h
            if n > 300:
                for run in (255, 256):
                    flat = rng.integers(0, 8, n).astype(np.uint8)
                    flat[9], flat[10:10 + run], flat[10 + run] = 8, 9, 8
                    imgs.append(flat.reshape(h, w, 3))
                flat = rng.integers(0, 8, n).astype(np.uint8)
                flat[0], flat[1], flat[-256], flat[-255:] = 9, 8, 8, 9
                edge = np.stack([flat.reshape(h, w, 3)] * 2)
                buf, offs = codec.encode_core(edge, fmt)
                want = [_encode_reference(im, fmt) for im in edge]
                assert buf.tobytes() == b"".join(want)
                assert offs.tolist() == [0, len(want[0]), 2 * len(want[0])]
            datas = [codec.encode(im, fmt) for im in imgs]
            assert datas == [_encode_reference(im, fmt) for im in imgs]
            want = np.stack([_decode_reference(d, fmt, w, h) for d in datas])
            got = codec.decode_batch(datas, fmt, w, h)
            assert got.dtype == np.uint8 and (got == want).all()
            for d, ref in zip(datas, want):
                assert (codec.decode(d, fmt, w, h) == ref).all()
            for im in imgs + list(want):
                assert codec.phash64(im) == _phash_reference(im)
                assert codec.psnr(im, want[0]) == _psnr_reference(im, want[0])
    assert len(codec.encode(np.full((16, 16, 3), 9, np.uint8), "rle")) == 8
    assert codec.decode_batch([], "raw", 8, 8).shape == (0, 8, 8, 3)


def _hostile(fmt, case):
    """A 4x4 payload made hostile: (data, w, h, message fragment)."""
    img = np.random.default_rng(3).integers(0, 256, (4, 4, 3), dtype=np.uint8)
    data = codec.encode(img, fmt)
    if case == "truncated":
        return data[:-1], 4, 4, f"{fmt} payload declared 4x4: got "
    if case == "overlong":
        # rle: one more (count, value) pair, so the runs overshoot 48
        extra = b"\x01\x00" if fmt == "rle" else b"\x00"
        return data + extra, 4, 4, f"{fmt} payload declared 4x4: got "
    if case == "negative":
        return data, -1, 4, f"{fmt} payload declared -1x4: got {len(data)} bytes"
    # 4x4 payload declared 2x4 (rle: the runs sum to twice the size)
    return data, 2, 4, f"{fmt} payload declared 2x4: got "


@pytest.mark.parametrize("entry", ["decode", "decode_batch"])
@pytest.mark.parametrize("case", ["truncated", "overlong", "negative", "halved"])
@pytest.mark.parametrize("fmt", ["raw", "rle", "q6", "q4"])
def test_hostile_payload_rejected(fmt, case, entry):
    """A payload not exactly its declared size, or a negative dimension,
    raises one ValueError naming fmt, w x h and got/expected bytes on
    both entry points — never a silent partial decode."""
    data, w, h, msg = _hostile(fmt, case)
    # neighbours valid for the declared shape (none is, below zero)
    good = data if w < 0 else codec.encode(np.zeros((h, w, 3), np.uint8), fmt)
    with pytest.raises(ValueError, match="expected") as ei:
        if entry == "decode":
            codec.decode(data, fmt, w, h)
        else:   # the hostile payload between two good ones
            codec.decode_batch([good, data, good], fmt, w, h)
    assert str(ei.value).startswith(msg)


# ---------------------------------------------------------------------------
# quantized dot
# ---------------------------------------------------------------------------

def _qdot_reference(a, b):
    """Spec: sum_i floor(1000 a_i) * floor(1000 b_i) in Python integers;
    None for a null vector or a NaN element."""
    import math
    if a is None or b is None or any(math.isnan(x) for x in [*a, *b]):
        return None
    return sum(math.floor(x * 1000.0) * math.floor(y * 1000.0)
               for x, y in zip(a, b))


def test_qdot_kernel_matches_integer_reference():
    import pandas as pd

    from fiona_spark.operators.dedup import qdot_batch
    rng = np.random.default_rng(8)
    dim = 64
    av = list(rng.standard_normal((200, dim)) * rng.choice([0.01, 1, 500], (200, 1)))
    bv = list(rng.standard_normal((200, dim)) * rng.choice([0.01, 1, 500], (200, 1)))
    av[3][5] = np.nan                                # NaN on the left
    bv[7][0] = np.nan                                # NaN on the right
    av[11], bv[12] = None, None                      # null vectors
    av[13] = bv[13] = None
    bv[20] = av[20]                                  # a self-dot
    av[30] = np.full(dim, -0.0004)                   # floors to -1, not 0
    got = qdot_batch(pd.Series(av, dtype=object), pd.Series(bv, dtype=object))
    assert str(got.dtype) == "Int64"
    for i, (a, b) in enumerate(zip(av, bv)):
        want = _qdot_reference(None if a is None else a.tolist(),
                               None if b is None else b.tolist())
        if want is None:
            assert got.isna()[i], i
        else:
            assert int(got[i]) == want, i
    assert got.isna().sum() == 5


def test_qdot_kernel_raises_instead_of_wrapping():
    import pandas as pd

    from fiona_spark.operators.dedup import qdot_batch

    def run(a, b):
        return qdot_batch(pd.Series([np.asarray(a, float)], dtype=object),
                          pd.Series([np.asarray(b, float)], dtype=object))

    # (1e15)^2 * 2 = 2e30: int64 arithmetic would wrap to garbage
    with pytest.raises(ValueError, match="overflow int64"):
        run([1e12, 2.0], [1e12, 4.0])
    with pytest.raises(ValueError, match="overflow int64"):
        run([np.inf, 1.0], [0.5, 1.0])
    # just inside the bound: exact, and matches the reference
    big = [1.5e6, 1.0]                      # floor(1000x)^2 = 2.25e18 < 2^62
    assert int(run(big, big)[0]) == _qdot_reference(big, big)
