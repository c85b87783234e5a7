"""Exact polygon union vs independent oracles.

Two oracles, neither sharing code with the kernel:
  * exact AREA by trapezoidal x-sweep: between consecutive event x's
    (vertices + pairwise edge crossings) the union's covered y-length
    is piecewise linear, so the trapezoid rule integrates it exactly;
  * MEMBERSHIP differential: dense grid points are inside the union
    rings (even-odd) iff inside any input polygon.
"""

import numpy as np
import pytest

from fiona_spark import geom

from .test_kernels import _pip_reference, polygon_union, union_area


def _sweep_union_area(polys, n_guard: int = 200):
    """Exact union area via x-sweep (independent oracle)."""
    xs_ev = []
    segs = []   # (x0, y0, x1, y1)
    for xs, ys in polys:
        xs = np.asarray(xs, np.float64)
        ys = np.asarray(ys, np.float64)
        xs2, ys2 = np.roll(xs, -1), np.roll(ys, -1)
        segs.append(np.stack([xs, ys, xs2, ys2], axis=1))
        xs_ev.append(xs)
    segs = np.concatenate(segs)
    xs_ev = np.concatenate(xs_ev)
    # pairwise crossing x's
    a = segs[:, None, :]
    b = segs[None, :, :]
    d = ((a[..., 2] - a[..., 0]) * (b[..., 3] - b[..., 1])
         - (a[..., 3] - a[..., 1]) * (b[..., 2] - b[..., 0]))
    qx = b[..., 0] - a[..., 0]
    qy = b[..., 1] - a[..., 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qx * (b[..., 3] - b[..., 1]) - qy * (b[..., 2] - b[..., 0])) / d
        u = (qx * (a[..., 3] - a[..., 1]) - qy * (a[..., 2] - a[..., 0])) / d
        okm = (d != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
        # t holds nan/inf on parallel segments — keep the multiply
        # inside the errstate guard; okm masks those entries below
        cx = a[..., 0] + t * (a[..., 2] - a[..., 0])
    events = np.unique(np.concatenate([xs_ev, cx[okm]]))

    def covered_len(x):
        iv = []
        for xs, ys in polys:
            xs = np.asarray(xs, np.float64)
            ys = np.asarray(ys, np.float64)
            xs2, ys2 = np.roll(xs, -1), np.roll(ys, -1)
            m = (np.minimum(xs, xs2) <= x) & (np.maximum(xs, xs2) > x)
            with np.errstate(divide="ignore", invalid="ignore"):
                yc = ys + (x - xs) / (xs2 - xs) * (ys2 - ys)
            yy = np.sort(yc[m])
            for lo, hi in zip(yy[0::2], yy[1::2]):
                iv.append((lo, hi))
        if not iv:
            return 0.0
        iv.sort()
        tot, clo, chi = 0.0, iv[0][0], iv[0][1]
        for lo, hi in iv[1:]:
            if lo > chi:
                tot += chi - clo
                clo, chi = lo, hi
            else:
                chi = max(chi, hi)
        return tot + (chi - clo)

    area = 0.0
    for xa, xb in zip(events[:-1], events[1:]):
        la = covered_len(np.nextafter(xa, xb))
        lb = covered_len(np.nextafter(xb, xa))
        # sample just inside the slab so vertical edges don't double in
        area += 0.5 * (la + lb) * (xb - xa)
    return area


def _membership_diff(polys, rings, n=120):
    bxs = np.concatenate([np.asarray(p[0]) for p in polys])
    bys = np.concatenate([np.asarray(p[1]) for p in polys])
    gx, gy = np.meshgrid(
        np.linspace(bxs.min() - 0.3, bxs.max() + 0.3, n),
        np.linspace(bys.min() - 0.3, bys.max() + 0.3, n))
    gx, gy = gx.ravel(), gy.ravel()
    want = np.zeros(len(gx), dtype=bool)
    for xs, ys in polys:
        want |= _pip_reference(
            gx, gy, np.asarray(xs, np.float64), np.asarray(ys, np.float64))
    got = geom.points_in_rings(gx, gy, rings[0], rings[1])
    return want, got


def _check(polys, expect_area=None, expect_rings=None):
    rings = polygon_union([p[0] for p in polys], [p[1] for p in polys])
    area = union_area(*rings)
    oracle = expect_area if expect_area is not None \
        else _sweep_union_area(polys)
    assert area == pytest.approx(oracle, rel=1e-12, abs=1e-12)
    if expect_rings is not None:
        assert len(rings[0]) == expect_rings
    want, got = _membership_diff(polys, rings)
    assert (want == got).all()
    return rings


def test_two_overlapping_squares():
    _check([([0, 2, 2, 0], [0, 0, 2, 2]), ([1, 3, 3, 1], [1, 1, 3, 3])],
           expect_area=7.0, expect_rings=1)


def test_disjoint_in_one_component():
    """Envelope-touching but geometry-disjoint -> two separate rings."""
    _check([([0, 2, 2, 0], [0, 0, 0.4, 0.4]),
            ([0.9, 1.4, 1.4, 0.9], [1.5, 1.5, 2.0, 2.0])],
           expect_area=2.0 * 0.4 + 0.25, expect_rings=2)


def test_nested_polygon_absorbed():
    _check([([0, 4, 4, 0], [0, 0, 4, 4]), ([1, 2, 2, 1], [1, 1, 2, 2])],
           expect_area=16.0, expect_rings=1)


def test_ring_of_squares_creates_hole():
    """Four overhanging rectangles forming a frame: union has a hole
    (CW ring, signed area -9); corners overhang so all contacts are
    proper crossings (general position)."""
    polys = [([-0.2, 5.2, 5.2, -0.2], [0, 0, 1, 1]),       # bottom
             ([-0.2, 5.2, 5.2, -0.2], [4, 4, 5, 5]),       # top
             ([0, 1, 1, 0], [-0.2, -0.2, 5.2, 5.2]),       # left
             ([4, 5, 5, 4], [-0.2, -0.2, 5.2, 5.2])]       # right
    rings = _check(polys, expect_rings=2)
    signed = [float(np.sum(np.asarray(xs) * np.roll(np.asarray(ys), -1)
                           - np.roll(np.asarray(xs), -1) * np.asarray(ys)))
              * 0.5 for xs, ys in zip(*rings)]
    assert min(signed) == -9.0         # the hole, exactly (1,4)x(1,4)


def test_concave_overlap():
    """Concave L-shape x rectangle (multiple crossings per edge)."""
    L = ([0, 3, 3, 2, 2, 0], [0, 0, 1, 1, 3, 3])
    R = ([1.5, 4, 4, 1.5], [0.5, 0.5, 2.5, 2.5])
    _check([L, R])


def test_three_way_overlap():
    _check([([0, 2, 2, 0], [0, 0, 2, 2]),
            ([1, 3, 3, 1], [1, 1, 3, 3]),
            ([0.5, 2.5, 2.5, 0.5], [1.5, 1.5, 3.5, 3.5])])


def test_duplicate_polygons_dedup():
    _check([([0, 2, 2, 0], [0, 0, 2, 2]), ([0, 2, 2, 0], [0, 0, 2, 2]),
            ([2, 0, 0, 2], [0, 2, 2, 0])],   # same ring, other orientation
           expect_area=4.0, expect_rings=1)


def test_random_rect_fuzz():
    rng = np.random.default_rng(7)
    for trial in range(12):
        polys = []
        for _ in range(rng.integers(2, 7)):
            cx, cy = rng.uniform(0, 6, 2)
            w, h = rng.uniform(0.5, 2.5, 2)
            polys.append(([cx, cx + w, cx + w, cx],
                          [cy, cy, cy + h, cy + h]))
        try:
            _check(polys)
        except geom.UnionDegeneracyError:
            pytest.fail(f"degeneracy on random trial {trial}")


def test_random_convex_fuzz():
    rng = np.random.default_rng(19)
    for trial in range(12):
        polys = []
        for _ in range(rng.integers(2, 6)):
            cx, cy = rng.uniform(0, 5, 2)
            npt = int(rng.integers(5, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, npt))
            r = rng.uniform(0.6, 1.8)
            polys.append(((cx + r * np.cos(ang)).tolist(),
                          (cy + r * np.sin(ang)).tolist()))
        _check(polys)


def test_shared_edge_parcels_exact():
    """Adjacent parcels sharing a full border (THE canonical dissolve
    input) union exactly: interior shared edge dropped, area additive."""
    rings = polygon_union(
        [[0, 2, 2, 0], [2, 4, 4, 2]],     # shared vertical edge x=2
        [[0, 0, 2, 2], [0, 0, 2, 2]])
    assert len(rings[0]) == 1
    assert union_area(*rings) == 8.0
    allx = np.concatenate(rings[0])
    # no stray vertex chain along the dissolved border
    assert sorted(set(allx)) == [0.0, 2.0, 4.0]


def test_parcel_grid_3x3_exact():
    """3x3 grid of unit parcels, every internal border shared: union is
    the 3x3 square, exactly."""
    xs, ys = [], []
    for i in range(3):
        for j in range(3):
            xs.append([i, i + 1, i + 1, i])
            ys.append([j, j, j + 1, j + 1])
    rings = polygon_union(xs, ys)
    assert len(rings[0]) == 1
    assert union_area(*rings) == 9.0
    want, got = _membership_diff(list(zip(xs, ys)), rings)
    assert (want == got).all()


def test_partial_shared_border_exact():
    """Borders that only PARTIALLY overlap (parcel rows of different
    heights) still dissolve exactly."""
    polys = [([0, 2, 2, 0], [0, 0, 3, 3]),
             ([2, 4, 4, 2], [1, 1, 2, 2])]    # shares x=2 for y in [1,2]
    rings = polygon_union([p[0] for p in polys],
                               [p[1] for p in polys])
    assert union_area(*rings) == 6.0 + 2.0
    want, got = _membership_diff(polys, rings)
    assert (want == got).all()


def test_stacked_overlap_with_shared_boundary_segment():
    """B inside A with part of B's boundary ON A's boundary: stacked
    boundary copies dedupe, union == A."""
    polys = [([0, 4, 4, 0], [0, 0, 4, 4]),
             ([1, 3, 3, 1], [0, 0, 2, 2])]    # B's bottom edge on A's
    rings = polygon_union([p[0] for p in polys],
                               [p[1] for p in polys])
    assert len(rings[0]) == 1
    assert union_area(*rings) == 16.0


def test_checkerboard_corner_pinch_exact():
    """Two squares sharing exactly one corner point (interiors
    diagonal) now union EXACTLY: the stitcher's clockwise face
    traversal pairs the four fragments at the pinch into two touching
    rings (r3 verdict 'next round' #2 — was a raise -> hull)."""
    rx, ry = polygon_union(
        [[0, 2, 2, 0], [2, 4, 4, 2]],
        [[0, 0, 2, 2], [2, 2, 4, 4]])     # touch only at (2, 2)
    assert len(rx) == 2
    assert union_area(rx, ry) == pytest.approx(8.0)
    # each lobe closes as its own simple ring (no figure-8 pairing)
    areas = sorted(abs(0.5 * float(np.sum(
        np.asarray(xs) * np.roll(np.asarray(ys), -1)
        - np.roll(np.asarray(xs), -1) * np.asarray(ys))))
        for xs, ys in zip(rx, ry))
    assert areas == [pytest.approx(4.0), pytest.approx(4.0)]


def test_checkerboard_2x2_full_cover_exact():
    """Four unit squares in a 2x2 checkerboard arrangement (two pinch
    vertices, full cover) union to ONE 2x2 ring, area 4."""
    def sq(x, y):
        return ([x, x + 1.0, x + 1.0, x], [y, y, y + 1.0, y + 1.0])
    polys = [sq(0, 0), sq(1, 1), sq(1, 0), sq(0, 1)]
    rx, ry = polygon_union([p[0] for p in polys],
                                [p[1] for p in polys])
    assert len(rx) == 1
    assert union_area(rx, ry) == pytest.approx(4.0)


def test_pinch_chain_three_squares_exact():
    """A diagonal chain of three corner-touching squares: three rings,
    summed area exact."""
    def sq(x, y):
        return ([x, x + 1.0, x + 1.0, x], [y, y, y + 1.0, y + 1.0])
    polys = [sq(0, 0), sq(1, 1), sq(2, 2)]
    rx, ry = polygon_union([p[0] for p in polys],
                                [p[1] for p in polys])
    assert len(rx) == 3
    assert union_area(rx, ry) == pytest.approx(3.0)


def test_dissolve_components_exact_union(spark):
    """dissolve_components now returns the EXACT union for overlapping
    components in general position (r2 'next round' #5): signed ring
    area equals the sweep oracle, exact=True on every row."""
    import pandas as pd
    from fiona_spark.operators import aggregates
    polys = [([0.0, 2.0, 2.0, 0.0], [0.0, 0.5, 2.5, 2.0]),
             ([1.0, 3.0, 3.0, 1.0], [1.0, 1.2, 3.2, 3.0]),
             ([10.0, 11.0, 11.0, 10.0], [0.0, 0.0, 1.0, 1.0])]  # singleton
    df = spark.createDataFrame(pd.DataFrame(
        {"fid": [0, 1, 2], "xs": [p[0] for p in polys],
         "ys": [p[1] for p in polys]}))
    out = aggregates.dissolve_components(df, "fid").toPandas()
    assert len(out) == 2
    assert out["exact"].all()
    merged = out[out["n_members"] == 2].iloc[0]
    got_area = union_area(merged["rings_xs"], merged["rings_ys"])
    want = _sweep_union_area(polys[:2])
    assert got_area == pytest.approx(want, rel=1e-12)


def test_dissolve_corner_pinch_now_exact(spark):
    """The r3-era hull case — a checkerboard corner pinch — now
    dissolves EXACTLY (two touching rings, exact=True, area 8)."""
    import pandas as pd
    from fiona_spark.operators import aggregates
    df = spark.createDataFrame(pd.DataFrame({
        "fid": [0, 1],
        "xs": [[0.0, 2.0, 2.0, 0.0], [2.0, 4.0, 4.0, 2.0]],
        "ys": [[0.0, 0.0, 2.0, 2.0], [2.0, 2.0, 4.0, 4.0]]}))
    out = aggregates.dissolve_components(df, "fid").toPandas()
    assert len(out) == 1 and out["exact"].iloc[0]
    assert len(out["rings_xs"].iloc[0]) == 2
    assert union_area(out["rings_xs"].iloc[0],
                           out["rings_ys"].iloc[0]) == pytest.approx(8.0)


def test_dissolve_shared_edge_parcels_now_exact(spark):
    """The r2-era hull case — same-extent squares sharing a border —
    now dissolves EXACTLY (collinear support)."""
    import pandas as pd
    from fiona_spark.operators import aggregates
    df = spark.createDataFrame(pd.DataFrame({
        "fid": [0, 1],
        "xs": [[29.0, 31.0, 31.0, 29.0], [30.0, 32.0, 32.0, 30.0]],
        "ys": [[-1.0, -1.0, 1.0, 1.0], [-1.0, -1.0, 1.0, 1.0]]}))
    out = aggregates.dissolve_components(df, "fid").toPandas()
    assert len(out) == 1 and out["exact"].iloc[0]
    assert union_area(out["rings_xs"].iloc[0],
                           out["rings_ys"].iloc[0]) == 6.0


def test_random_snapped_parcel_fuzz():
    """Rectangles snapped to a 0.5 grid: collinear partial/full shared
    borders everywhere.  Union must match the membership oracle and the
    sweep area on every trial (pinch-corner trials are legitimate
    degeneracies and are skipped)."""
    rng = np.random.default_rng(41)
    ok_trials = 0
    for trial in range(20):
        polys = []
        for _ in range(rng.integers(2, 8)):
            cx = rng.integers(0, 10) * 0.5
            cy = rng.integers(0, 10) * 0.5
            w = rng.integers(1, 6) * 0.5
            h = rng.integers(1, 6) * 0.5
            polys.append(([cx, cx + w, cx + w, cx],
                          [cy, cy, cy + h, cy + h]))
        try:
            _check(polys)
            ok_trials += 1
        except geom.UnionDegeneracyError:
            continue   # corner pinch: legal fallback
    assert ok_trials >= 12   # the vast majority must union exactly


# -- r4: general concave buffer via the union kernel ------------------------

def _buffer_oracle_area(xs, ys, d, n=500):
    """Dense-grid area of the TRUE Minkowski buffer: point is a member
    iff inside the ring or within distance d of its boundary."""
    xs = np.asarray(xs, float); ys = np.asarray(ys, float)
    pad = d * 1.25
    gx = np.linspace(xs.min() - pad, xs.max() + pad, n)
    gy = np.linspace(ys.min() - pad, ys.max() + pad, n)
    GX, GY = np.meshgrid(gx, gy)
    px, py = GX.ravel(), GY.ravel()
    inside = _pip_reference(px, py, xs, ys)
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    ex, ey = x1 - xs, y1 - ys
    L2 = ex ** 2 + ey ** 2
    dmin = np.full(len(px), np.inf)
    for i in range(len(xs)):
        t = np.clip(((px - xs[i]) * ex[i] + (py - ys[i]) * ey[i]) / L2[i],
                    0, 1)
        dmin = np.minimum(dmin, np.hypot(px - (xs[i] + t * ex[i]),
                                         py - (ys[i] + t * ey[i])))
    cell = (gx[1] - gx[0]) * (gy[1] - gy[0])
    return float((inside | (dmin <= d)).sum()) * cell


def test_buffer_polygon_concave_L_matches_dense_oracle():
    xs = np.array([0., 4., 4., 1., 1., 0.])
    ys = np.array([0., 0., 1., 1., 4., 4.])
    rx, ry = geom.buffer_feature([xs], [ys], 0.5, segs=64)
    got = union_area(rx, ry)
    want = _buffer_oracle_area(xs, ys, 0.5)
    assert abs(got - want) < 0.15          # grid + inscribed-arc error
    assert len(rx) == 1


def test_buffer_polygon_square_closed_form():
    """Square buffer area has a closed form: A + P*d + pi*d^2 (minus
    the inscribed-arc deficit, which vanishes as segs grows)."""
    xs = np.array([0., 2., 2., 0.]); ys = np.array([0., 0., 2., 2.])
    rx, ry = geom.buffer_feature([xs], [ys], 1.0, segs=256)
    want = 4.0 + 8.0 * 1.0 + np.pi
    assert abs(union_area(rx, ry) - want) < 0.01
    # orientation-independent
    rx2, ry2 = geom.buffer_feature([xs[::-1]], [ys[::-1]], 1.0, segs=256)
    assert union_area(rx2, ry2) == union_area(rx, ry)


def test_buffer_polygon_keyhole_closes_into_hole():
    """Buffering a keyhole whose neck is narrower than 2*d seals the
    neck: the pocket becomes a HOLE (negative ring) — the multi-ring
    case the single-ring convex approximation could never express."""
    xs = np.array([0., 8., 8., 4.5, 4.5, 6., 6., 2., 2., 3.5, 3.5, 0.])
    ys = np.array([0., 0., 8., 8., 5., 5., 1., 1., 5., 5., 8., 8.])
    rx, ry = geom.buffer_feature([xs], [ys], 0.6, segs=32)
    signed = [0.5 * float(np.sum(np.asarray(a) * np.roll(np.asarray(b), -1)
                                 - np.roll(np.asarray(a), -1)
                                 * np.asarray(b)))
              for a, b in zip(rx, ry)]
    assert len(rx) == 2
    assert min(signed) < 0 < max(signed)
    want = _buffer_oracle_area(xs, ys, 0.6, n=700)
    assert abs(union_area(rx, ry) - want) < 0.4


def test_buffer_udf_exact_on_concave(spark):
    """The snuggs-exposed buffer UDF runs the exact kernel: the L-shape
    buffer area matches the dense oracle (the convex fallback was ~20%
    high on this fixture)."""
    import pandas as pd
    from fiona_spark.functions import geometry as gf
    xs = [0., 4., 4., 1., 1., 0.]
    ys = [0., 0., 1., 1., 4., 4.]
    df = spark.createDataFrame(pd.DataFrame({
        "geom_type": ["Polygon"], "rings_xs": [[xs]], "rings_ys": [[ys]]}))
    out = df.select(gf.buffer_udf(0.5, segs=64)(*gf.RING_ARGS)
                    .alias("b")).first()["b"]
    assert out["geom_type"] == "Polygon"
    got = union_area(out["rings_xs"], out["rings_ys"])
    want = _buffer_oracle_area(np.array(xs), np.array(ys), 0.5)
    assert abs(got - want) < 0.15


# -- r4: grid-snapped fuzz — maximally degenerate inputs (every contact
# -- is a shared edge, corner pinch, collinear overlap or containment)

def _grid_cells_covered(xs, ys):
    cov = set()
    x0, x1 = int(min(xs)), int(max(xs))
    y0, y1 = int(min(ys)), int(max(ys))
    for i in range(x0, x1):
        for j in range(y0, y1):
            if _pip_reference(np.array([i + 0.5]), np.array([j + 0.5]),
                              np.asarray(xs), np.asarray(ys))[0]:
                cov.add((i, j))
    return cov


def test_integer_grid_rect_union_fuzz():
    """100 trials of integer-grid rectangles: area must equal the unit
    cell count EXACTLY, and nothing may raise — the r4 pinch/collinear
    machinery handles every grid contact (pre-r4 this raised on corner
    touches)."""
    rng = np.random.default_rng(123)
    for trial in range(100):
        polys = []
        for _ in range(rng.integers(2, 8)):
            x0, y0 = rng.integers(0, 8, 2)
            w, h = rng.integers(1, 5, 2)
            polys.append((
                [float(x0), float(x0 + w), float(x0 + w), float(x0)],
                [float(y0), float(y0), float(y0 + h), float(y0 + h)]))
        rings = polygon_union([p[0] for p in polys],
                                   [p[1] for p in polys])
        want = set()
        for p in polys:
            want |= _grid_cells_covered(*p)
        assert union_area(*rings) == pytest.approx(
            float(len(want)), abs=1e-9), f"trial {trial}: {polys}"


def test_integer_grid_concave_union_fuzz():
    """60 trials of concave grid L-shapes (notched rectangles): exact
    cell-count area, no degeneracy raises."""
    rng = np.random.default_rng(7)

    def mk_L():
        x0, y0 = rng.integers(0, 6, 2)
        w, h = rng.integers(2, 5, 2)
        nw, nh = rng.integers(1, w), rng.integers(1, h)
        X0, X1 = float(x0), float(x0 + w)
        Y0, Y1 = float(y0), float(y0 + h)
        c = rng.integers(0, 4)
        if c == 0:
            xs = [X0, X1, X1, X1 - nw, X1 - nw, X0]
            ys = [Y0, Y0, Y1 - nh, Y1 - nh, Y1, Y1]
        elif c == 1:
            xs = [X0, X1 - nw, X1 - nw, X1, X1, X0]
            ys = [Y0, Y0, Y0 + nh, Y0 + nh, Y1, Y1]
        elif c == 2:
            xs = [X0, X1, X1, X0 + nw, X0 + nw, X0]
            ys = [Y0, Y0, Y1, Y1, Y1 - nh, Y1 - nh]
        else:
            xs = [X0 + nw, X1, X1, X0, X0, X0 + nw]
            ys = [Y0, Y0, Y1, Y1, Y0 + nh, Y0 + nh]
        return [float(v) for v in xs], [float(v) for v in ys]

    for trial in range(60):
        polys = [mk_L() for _ in range(rng.integers(2, 6))]
        rings = polygon_union([p[0] for p in polys],
                                   [p[1] for p in polys])
        want = set()
        for p in polys:
            want |= _grid_cells_covered(*p)
        assert union_area(*rings) == pytest.approx(
            float(len(want)), abs=1e-9), f"trial {trial}: {polys}"


def test_feature_union_donuts_exact():
    """Hole-bearing (donut) features union exactly — incl. the grid
    case where the interior-point centroid of the shell lands exactly
    on the hole's corner (the probe must retry, not raise)."""
    donut = ([[0., 6., 6., 0.], [2., 4., 4., 2.]],
             [[0., 0., 6., 6.], [2., 2., 4., 4.]])
    plug = ([[2.5, 3.5, 3.5, 2.5]], [[2.5, 2.5, 3.5, 3.5]])
    bridge = ([[1., 5., 5., 1.]], [[2.5, 2.5, 3.5, 3.5]])
    d2 = ([[3., 9., 9., 3.], [5., 7., 7., 5.]],
          [[3., 3., 9., 9.], [4., 4., 6., 6.]])
    for feats, want_area, want_rings in [
            ([donut], 32.0, 2),          # 36 - 4 hole
            ([donut, plug], 33.0, 3),    # disjoint plug inside hole
            ([donut, bridge], 34.0, 3),  # bridge splits the hole
            ([donut, d2], 58.0, 3)]:
        rings = geom.feature_union([f[0] for f in feats],
                                   [f[1] for f in feats])
        assert len(rings[0]) == want_rings
        assert union_area(*rings) == pytest.approx(want_area)


def test_grid_donut_union_fuzz():
    """80 trials of random grid donuts (+ optional solid square):
    membership-differential == 1.0, no degeneracy raises.  Catches the
    r4 interior-point depth-probe bug (a shell's interior point inside
    its own hole flipped ring orientation silently)."""
    rng = np.random.default_rng(55)
    for trial in range(80):
        feats = []
        for _ in range(rng.integers(1, 4)):
            x0, y0 = rng.integers(0, 5, 2)
            w, h = rng.integers(3, 6, 2)
            hx0 = x0 + rng.integers(1, w - 1)
            hy0 = y0 + rng.integers(1, h - 1)
            hw = rng.integers(1, w - (hx0 - x0))
            hh = rng.integers(1, h - (hy0 - y0))
            feats.append((
                [[float(x0), float(x0 + w), float(x0 + w), float(x0)],
                 [float(hx0), float(hx0 + hw), float(hx0 + hw), float(hx0)]],
                [[float(y0), float(y0), float(y0 + h), float(y0 + h)],
                 [float(hy0), float(hy0), float(hy0 + hh), float(hy0 + hh)]]))
        if rng.random() < 0.7:
            x0, y0 = rng.integers(0, 7, 2)
            w, h = rng.integers(1, 4, 2)
            feats.append((
                [[float(x0), float(x0 + w), float(x0 + w), float(x0)]],
                [[float(y0), float(y0), float(y0 + h), float(y0 + h)]]))
        rings = geom.feature_union([f[0] for f in feats],
                                   [f[1] for f in feats])
        allx = np.concatenate([np.asarray(r) for f in feats for r in f[0]])
        ally = np.concatenate([np.asarray(r) for f in feats for r in f[1]])
        gx, gy = np.meshgrid(
            np.linspace(allx.min() - .3, allx.max() + .3, 80),
            np.linspace(ally.min() - .3, ally.max() + .3, 80))
        gx, gy = gx.ravel(), gy.ravel()
        want = np.zeros(len(gx), bool)
        for fxs, fys in feats:
            offs, x0_, y0_, x1_, y1_ = geom.pack_feature_edges([fxs], [fys])
            want |= geom.points_in_edges_packed(
                gx, gy, np.zeros(len(gx), np.int64),
                offs, x0_, y0_, x1_, y1_)
        got = geom.points_in_rings(gx, gy, rings[0], rings[1])
        assert (want == got).all(), f"trial {trial}: {feats}"


def test_dissolve_union_two_stage_grid_fuzz(spark):
    """10 trials: the two-stage (partition partials -> driver final)
    dissolve over grid rectangles stays EXACT — multi-ring partials
    with holes flow through feature_union and corner/edge contacts no
    longer degrade to the hull."""
    import pandas as pd
    from fiona_spark.operators import aggregates
    rng = np.random.default_rng(91)
    for trial in range(10):
        polys = []
        for _ in range(rng.integers(4, 12)):
            x0, y0 = rng.integers(0, 8, 2)
            w, h = rng.integers(1, 5, 2)
            polys.append((
                [float(x0), float(x0 + w), float(x0 + w), float(x0)],
                [float(y0), float(y0), float(y0 + h), float(y0 + h)]))
        cov = set()
        for xs_, ys_ in polys:
            for i in range(int(min(xs_)), int(max(xs_))):
                for j in range(int(min(ys_)), int(max(ys_))):
                    cov.add((i, j))
        df = spark.createDataFrame(pd.DataFrame({
            "fid": range(len(polys)),
            "xs": [p[0] for p in polys],
            "ys": [p[1] for p in polys]})).repartition(4)
        rx, ry, exact = aggregates.dissolve_union(df)
        assert exact, f"trial {trial} degraded to hull"
        assert union_area(rx, ry) == pytest.approx(
            float(len(cov)), abs=1e-9), f"trial {trial}"


# -- r4: erosion (negative buffer) ------------------------------------------

def _erosion_oracle_area(xs, ys, d, n=400):
    xs = np.asarray(xs, float); ys = np.asarray(ys, float)
    gx = np.linspace(xs.min(), xs.max(), n)
    gy = np.linspace(ys.min(), ys.max(), n)
    GX, GY = np.meshgrid(gx, gy)
    px, py = GX.ravel(), GY.ravel()
    inside = _pip_reference(px, py, xs, ys)
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    ex, ey = x1 - xs, y1 - ys
    L2 = ex ** 2 + ey ** 2
    dmin = np.full(len(px), np.inf)
    for i in range(len(xs)):
        t = np.clip(((px - xs[i]) * ex[i] + (py - ys[i]) * ey[i]) / L2[i],
                    0, 1)
        dmin = np.minimum(dmin, np.hypot(px - (xs[i] + t * ex[i]),
                                         py - (ys[i] + t * ey[i])))
    cell = (gx[1] - gx[0]) * (gy[1] - gy[0])
    return float((inside & (dmin >= d)).sum()) * cell


def test_erode_square_exact():
    rx, ry = geom.buffer_feature([[0., 4., 4., 0.]], [[0., 0., 4., 4.]], -1.0)
    assert len(rx) == 1
    assert union_area(rx, ry) == pytest.approx(4.0)   # 2x2 core


def test_erode_concave_L_matches_dense_oracle():
    xs = np.array([0., 6., 6., 2.5, 2.5, 0.])
    ys = np.array([0., 0., 2., 2., 6., 6.])
    rx, ry = geom.buffer_feature([xs], [ys], -0.5, segs=64)
    got = union_area(rx, ry)
    want = _erosion_oracle_area(xs, ys, 0.5)
    assert abs(got - want) < 0.1


def test_erode_dumbbell_splits_and_vanishes():
    """A narrow neck (width 1) splits under erosion by 0.6 into two
    rings; eroding past the inradius empties the polygon."""
    # two 4x4 lobes joined by a 2-long, 1-wide neck
    xs = np.array([0., 4., 4., 6., 6., 10., 10., 6., 6., 4., 4., 0.])
    ys = np.array([0., 0., 1.5, 1.5, 0., 0., 4., 4., 2.5, 2.5, 4., 4.])
    rx, ry = geom.buffer_feature([xs], [ys], -0.6, segs=32)
    assert len(rx) == 2
    want = _erosion_oracle_area(xs, ys, 0.6, n=600)
    assert abs(union_area(rx, ry) - want) < 0.15
    assert geom.buffer_feature([[0., 2., 2., 0.]], [[0., 0., 2., 2.]],
                               -1.5) == ([], [])


def test_buffer_feature_donut_closed_forms():
    """Multi-ring (donut) buffer, positive and negative: closed-form
    areas at segs=256 (inscribed-arc deficit < 0.01)."""
    dx_ = [[0., 8., 8., 0.], [2., 6., 6., 2.]]
    dy_ = [[0., 0., 8., 8.], [2., 2., 6., 6.]]
    rx, ry = geom.buffer_feature(dx_, dy_, 1.0, segs=256)
    assert len(rx) == 2        # grown outer + shrunk hole
    assert abs(union_area(rx, ry) - (64 + 32 + np.pi - 4)) < 0.01
    rx, ry = geom.buffer_feature(dx_, dy_, 2.0, segs=256)
    assert len(rx) == 1        # hole narrower than 2*dist closes
    assert abs(union_area(rx, ry) - (64 + 64 + 4 * np.pi)) < 0.01
    rx, ry = geom.buffer_feature(dx_, dy_, -0.5, segs=256)
    assert len(rx) == 2        # outer shrinks, hole grows (rounded)
    want = 49 - (25 - (1 - np.pi / 4))
    assert abs(union_area(rx, ry) - want) < 0.01


def test_divide_and_conquer_union_over_budget():
    """Inputs past max_edges split by bbox-center median and merge via
    partial unions (boundary-bounded), staying EXACT: a 20x20 parcel
    grid forced through the DC path unions to one 20x20 ring."""
    px, py = [], []
    for i in range(20):
        for j in range(20):
            px.append([float(i), float(i + 1), float(i + 1), float(i)])
            py.append([float(j), float(j), float(j + 1), float(j + 1)])
    rx, ry = polygon_union(px, py, max_edges=300)   # 1600 edges in
    assert len(rx) == 1
    assert union_area(rx, ry) == pytest.approx(400.0)
    # two oversized overlapping features can't subdivide further and
    # still raise (no silent truncation of the pairwise budget)
    big = np.linspace(0, 2 * np.pi, 500, endpoint=False)
    with pytest.raises(geom.UnionDegeneracyError):
        geom.feature_union(
            [[np.cos(big)], [np.cos(big) + 0.5]],
            [[np.sin(big)], [np.sin(big)]], max_edges=100)


def test_dissolve_union_tree_reduce_parity(spark):
    """A 200-partition layer forces the tree-reduce rounds; the result
    equals the single-level dissolve of the same 12x12 parcel grid
    (area 144, one ring, exact)."""
    import pandas as pd
    from fiona_spark.operators import aggregates
    polys = []
    for i in range(12):
        for j in range(12):
            polys.append((
                [float(i), float(i + 1), float(i + 1), float(i)],
                [float(j), float(j), float(j + 1), float(j + 1)]))
    df = spark.createDataFrame(pd.DataFrame({
        "xs": [p[0] for p in polys],
        "ys": [p[1] for p in polys]})).repartition(200)
    rx, ry, exact = aggregates.dissolve_union(df)
    assert exact and len(rx) == 1
    assert union_area(rx, ry) == pytest.approx(144.0)


def test_buffer_distance_sweep_no_degeneracy():
    """Dense (distance x segs) sweep over square dilation and donut
    erosion: ZERO degeneracy raises.  Pre-fix, both-sided slabs
    overlapped the ring's perpendicular edges collinearly and
    ulp-divergent split floats broke chaining at sporadic distances
    (e.g. square side 4, d=1.0416, all segs)."""
    sq = ([3., 7., 7., 3.], [3., 3., 7., 7.])
    for d in np.linspace(0.05, 3.0, 40):
        for segs in (16, 32):
            rx, ry = geom.buffer_feature([sq[0]], [sq[1]], float(d),
                                         segs=segs)
            assert union_area(rx, ry) > 16.0
    dx_ = [[0., 10., 10., 0.], [3., 7., 7., 3.]]
    dy_ = [[0., 0., 10., 10.], [3., 3., 7., 7.]]
    for d in np.linspace(0.1, 2.2, 24):
        if abs(float(d) - 1.5) < 1e-9:
            continue                    # exact zero-width-wall tangency
        rx, ry = geom.buffer_feature(dx_, dy_, -float(d), segs=32)
        assert union_area(rx, ry) >= 0.0
    # the EXACT tangency (erode 1.5 leaves zero-width walls) is
    # measure-zero degenerate: a loud raise is the contract
    with pytest.raises(geom.UnionDegeneracyError):
        geom.buffer_feature(dx_, dy_, -1.5000000000000002, segs=32)


def _ring_is_simple(xs, ys):
    n = len(xs)

    def cr(ax, ay, bx, by, cx, cy):
        return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

    for i in range(n):
        for j in range(i + 1, n):
            if (j + 1) % n == i or (i + 1) % n == j:
                continue
            a = (xs[i], ys[i], xs[(i + 1) % n], ys[(i + 1) % n])
            b = (xs[j], ys[j], xs[(j + 1) % n], ys[(j + 1) % n])
            d1 = cr(a[0], a[1], a[2], a[3], b[0], b[1])
            d2 = cr(a[0], a[1], a[2], a[3], b[2], b[3])
            d3 = cr(b[0], b[1], b[2], b[3], a[0], a[1])
            d4 = cr(b[0], b[1], b[2], b[3], a[2], a[3])
            if d1 * d2 < 0 and d3 * d4 < 0:
                return False
    return True


def test_buffer_random_polygon_fuzz():
    """150 random polygons x random +/- distances x segs: SIMPLE rings
    never raise (dilations grow, erosions stay within the original);
    self-intersecting inputs may raise LOUDLY — never silently wrong."""
    rng = np.random.default_rng(99)
    for trial in range(150):
        n = int(rng.integers(4, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 3.0, n)
        xs = (r * np.cos(ang)).tolist()
        ys = (r * np.sin(ang)).tolist()
        d = float(rng.uniform(0.05, 2.0)) * (1 if rng.random() < 0.7
                                             else -1)
        segs = int(rng.choice([8, 16, 32]))
        simple = _ring_is_simple(xs, ys)
        orig = abs(0.5 * float(np.sum(
            np.array(xs) * np.roll(np.array(ys), -1)
            - np.roll(np.array(xs), -1) * np.array(ys))))
        try:
            rx, ry = geom.buffer_feature([xs], [ys], d, segs=segs)
        except geom.UnionDegeneracyError:
            assert not simple, \
                f"trial {trial}: raise on a SIMPLE ring (d={d})"
            continue
        a = union_area(rx, ry)
        if simple:
            if d > 0:
                assert a > orig - 1e-9, f"trial {trial} dilation shrank"
            else:
                assert -1e-9 <= a <= orig + 1e-9, \
                    f"trial {trial} erosion grew"
