"""Vectorized numpy geometry kernels.

Replaces the per-feature geometry work the reference delegates to
GDAL/shapely with batch numpy, to run inside pandas UDFs:

  * bbox / envelope            — Fiona ``_bounds`` (`fiona/ogrext.pyx:175-194`)
  * point-in-polygon           — exact form of the mask filter OGR only
                                 approximates by envelope
                                 (`fiona/collection.py:416-417`)
  * area / length / distance / — Fiona's snuggs function wrappers
    buffer / simplify            (`fiona/features.py:128-211`), computed in
                                 EPSG:6933 when ``projected=True``
  * CRS transforms 4326<->6933/3857 — closed forms standing in for
    ``fiona/_transform.pyx:62-183`` (antimeridian handling included)

Polygons are ring coordinate arrays (xs, ys), first vertex NOT required
to equal the last (auto-closed, mirroring `fiona/_geometry.pyx:302-307`).

Boundary convention (documented per SURVEY.md section 7 risk register):
point-in-polygon uses the half-open crossing rule ``(y0 > py) !=
(y1 > py)`` with strict ``<`` on the x-intersection — a point exactly on
an edge/vertex may land either way but *identically* in engine and
oracle, since both run this same kernel.
"""

from __future__ import annotations

import numpy as np
from functools import lru_cache as _lru_cache

WGS84_R = 6378137.0           # WGS84 semi-major axis (web-mercator sphere)
EASE2_COS30 = np.cos(np.deg2rad(30.0))   # EPSG:6933 standard parallel


# ---------------------------------------------------------------------------
# Envelopes
# ---------------------------------------------------------------------------

def bounds(xs: np.ndarray, ys: np.ndarray) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of one coordinate array."""
    return float(np.min(xs)), float(np.min(ys)), float(np.max(xs)), float(np.max(ys))


# ---------------------------------------------------------------------------
# Point in polygon (ray casting), vectorized
# ---------------------------------------------------------------------------

def _close_ring(xs: np.ndarray, ys: np.ndarray):
    # an empty ring stays empty: it has no edges, so it contains no
    # point (the packed-edge kernels' semantics)
    if len(xs) and (xs[0] != xs[-1] or ys[0] != ys[-1]):
        xs = np.append(xs, xs[0])
        ys = np.append(ys, ys[0])
    return xs, ys


def pack_feature_edges(rings_xs, rings_ys):
    """Pack MULTI-RING features into flat edge arrays for the PIP kernel.

    ``rings_xs[i]`` / ``rings_ys[i]`` are the per-ring coordinate arrays
    of feature i (outer shells, holes and MultiPolygon parts all alike —
    even-odd parity does not care about ring role).  Explicitly closed
    rings have the duplicate end vertex dropped; each ring contributes
    its closing edge via a roll.

    Returns (edge_offs, ex0, ey0, ex1, ey1): feature i owns edges
    [edge_offs[i], edge_offs[i+1]).
    """
    # r8: ring-level vectorization — one concatenate + mask-based
    # closed-ring trim, element-identical to the old per-ring loop.
    # The flat core also takes Arrow list-offset input directly
    # (:func:`pack_feature_edges_flat`), which is how `_zone_prep`
    # avoids materializing 10^5 per-ring object arrays at all.
    nfeat = len(rings_xs)
    ring_nx = np.fromiter((len(rl) for rl in rings_xs), np.int64, nfeat)
    xa = [np.asarray(r, np.float64) for rl in rings_xs for r in rl]
    ya = [np.asarray(r, np.float64) for rl in rings_ys for r in rl]
    lens0 = np.fromiter((len(a) for a in xa), np.int64, len(xa))
    return pack_feature_edges_flat(np.concatenate([np.empty(0), *xa]),
                                   np.concatenate([np.empty(0), *ya]),
                                   lens0, ring_nx)


def pack_feature_edges_flat(cx, cy, ring_lens, ring_nx):
    """Pack features into flat edge arrays from FLAT ring storage.

    ``cx``/``cy`` hold every ring's vertices concatenated in order;
    ``ring_lens[j]`` is ring j's vertex count; ``ring_nx[i]`` is the
    number of rings of feature i.  This is exactly the Arrow list
    layout, so callers holding `list<double>` columns can pass the
    value buffer + offset diffs with zero per-ring Python.  Semantics
    identical to :func:`pack_feature_edges`: explicitly-closed rings
    drop the duplicate end vertex, empty rings contribute nothing,
    each ring contributes its closing edge.
    """
    cx = np.asarray(cx, np.float64)
    cy = np.asarray(cy, np.float64)
    ring_lens = np.asarray(ring_lens, np.int64)
    ring_nx = np.asarray(ring_nx, np.int64)
    nfeat = len(ring_nx)
    nr = len(ring_lens)
    if nr == 0 or len(cx) == 0:
        edge_offs = np.zeros(nfeat + 1, dtype=np.int64)
        z = np.empty(0)
        return edge_offs, z, z, z, z
    starts0 = np.cumsum(ring_lens) - ring_lens
    ends0 = starts0 + ring_lens - 1
    closed = np.zeros(nr, dtype=bool)
    multi = ring_lens > 1
    closed[multi] = ((cx[starts0[multi]] == cx[ends0[multi]])
                     & (cy[starts0[multi]] == cy[ends0[multi]]))
    # drop the duplicate end vertex of explicitly-closed rings
    keep = np.ones(len(cx), dtype=bool)
    keep[ends0[closed]] = False
    x0 = cx[keep]
    y0 = cy[keep]
    lens_all = ring_lens - closed      # per ring, kept vertex count
    ring_feat = np.repeat(np.arange(nfeat, dtype=np.int64), ring_nx)
    counts = np.bincount(ring_feat, weights=lens_all,
                         minlength=nfeat).astype(np.int64)
    edge_offs = np.concatenate(([0], np.cumsum(counts)))
    # closing edges via ONE global roll + per-ring boundary fix (a
    # per-ring np.roll pair was ~half the zone-prep driver time at
    # 10^4 rings); zero-length rings are excluded so their empty span
    # cannot clobber the previous ring's closing edge
    lens = lens_all[lens_all > 0]
    x1 = np.roll(x0, -1)
    y1 = np.roll(y0, -1)
    starts = np.cumsum(lens) - lens
    ends = starts + lens - 1
    x1[ends] = x0[starts]
    y1[ends] = y0[starts]
    return edge_offs, x0, y0, x1, y1


PIP_EDGE_CHUNK = 1 << 20


def points_in_edges_packed(px, py, fidx, edge_offs, ex0, ey0, ex1, ey1) -> np.ndarray:
    """Row-aligned even-odd PIP against PACKED EDGES — the package's
    ONE crossing test (:func:`points_in_rings` and
    :func:`points_in_features` wrap it for every other caller).

    Point i is tested against feature ``fidx[i]`` with parity counted
    across ALL its edges, so holes exclude points and disjoint
    MultiPolygon parts include them (`fiona/model.py:18-115`).
    Crossing rule: (y0 > py) != (y1 > py), strict px < x-intersection;
    a NaN point is inside nothing.

    r8: processed in bounded edge chunks (PIP_EDGE_CHUNK) so peak
    temporaries stay ~8-16 MB however large the batch or the feature
    (fresh per-batch temporaries were mmap/munmap'd by glibc, and
    first touch of fresh pages is slow and serialized on some hosts).
    The x-intersection divide runs only where the y-span condition
    holds — same divides on the same values, so the result is
    bit-identical to the unchunked full-width form.
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    fidx = np.asarray(fidx, np.int64)
    n = len(px)
    if n == 0:
        return np.zeros(0, dtype=bool)
    cnt = (edge_offs[fidx + 1] - edge_offs[fidx]).astype(np.int64)
    ccum = np.cumsum(cnt)
    total = int(ccum[-1])
    feat_start = edge_offs[fidx]
    parity = np.zeros(n, dtype=np.int64)
    # split candidate rows into runs of <= PIP_EDGE_CHUNK edges (a single
    # candidate with more edges than the chunk gets its own run)
    bounds = [0]
    while bounds[-1] < n:
        nxt = int(np.searchsorted(
            ccum, (ccum[bounds[-1] - 1] if bounds[-1] else 0)
            + PIP_EDGE_CHUNK, "right"))
        bounds.append(max(nxt, bounds[-1] + 1))
    for lo_r, hi_r in zip(bounds[:-1], bounds[1:]):
        m = hi_r - lo_r
        ccnt = cnt[lo_r:hi_r]
        ctot = int(ccnt.sum())
        if ctot == 0:
            continue
        row = np.repeat(np.arange(m, dtype=np.int64), ccnt)
        starts = np.cumsum(ccnt) - ccnt
        e = feat_start[lo_r:hi_r][row] + (
            np.arange(ctot, dtype=np.int64) - starts[row])
        y0, y1 = ey0[e], ey1[e]
        pye = py[lo_r:hi_r][row]
        cond = (y0 > pye) != (y1 > pye)
        ci = np.flatnonzero(cond)
        if len(ci):
            ei = e[ci]
            x0c, y0c = ex0[ei], y0[ci]
            pyc = pye[ci]
            xint = x0c + (pyc - y0c) / (y1[ci] - y0c) * (ex1[ei] - x0c)
            hit_rows = row[ci[px[lo_r:hi_r][row[ci]] < xint]]
            parity[lo_r:hi_r] += np.bincount(hit_rows, minlength=m)
    return (parity % 2).astype(bool)


def points_in_rings(px, py, rings_x, rings_y) -> np.ndarray:
    """Many points against ONE multi-ring feature (even-odd across
    rings): pack the feature, then run :func:`points_in_edges_packed`."""
    px = np.asarray(px, np.float64)
    return points_in_edges_packed(px, py, np.zeros(len(px), np.int64),
                                  *pack_feature_edges([rings_x], [rings_y]))


def feature_vertex_bounds(edges):
    """Per-feature VERTEX bounds and antimeridian wrap flags of packed
    edges (``edges`` = the :func:`pack_feature_edges` tuple), by one
    segmented reduce: (fxmin, fymin, fxmax, fymax, wrap).

    A feature without edges gets (+inf, -inf) bounds and no wrap, so
    :func:`points_in_features` drops its every candidate (no edges:
    parity 0 anyway).  A NaN vertex makes its feature's bounds NaN.
    """
    edge_offs, ex0, ey0 = edges[:3]
    nf = len(edge_offs) - 1
    fxmin, fymin = np.full(nf, np.inf), np.full(nf, np.inf)
    fxmax, fymax = np.full(nf, -np.inf), np.full(nf, -np.inf)
    nonempty = edge_offs[:-1] < edge_offs[1:]
    if nonempty.any():
        seg = edge_offs[:-1][nonempty]
        fxmin[nonempty] = np.minimum.reduceat(ex0, seg)
        fxmax[nonempty] = np.maximum.reduceat(ex0, seg)
        fymin[nonempty] = np.minimum.reduceat(ey0, seg)
        fymax[nonempty] = np.maximum.reduceat(ey0, seg)
    wrap = (fxmax > 180.0) | (fxmin < -180.0)
    return fxmin, fymin, fxmax, fymax, wrap


def points_in_features(px, py, fidx, edges, fbounds) -> np.ndarray:
    """Exact refine of candidate pairs: is point i inside feature
    ``fidx[i]``?  ``edges`` is the :func:`pack_feature_edges` tuple and
    ``fbounds`` its :func:`feature_vertex_bounds`; both ``pip_join``
    lanes call this.  Returns a bool mask aligned with the candidates.

    Exact-bounds prefilter (r8): a candidate strictly outside its
    feature's VERTEX bounds provably gets parity 0 from the even-odd
    raycast (y: no edge spans py, both comparisons are strict and
    rounding-free; x: outside [fxmin, fxmax] every spanning edge's
    crossings pair up — the 1e-9 margin covers x-intersection rounding,
    a few 1e-13 at degree-scale coordinates), so dropping it BEFORE the
    edge expansion is bit-neutral.  Antimeridian features (vertices
    past +/-180) skip the filter: their misses are retested with the
    point shifted by +360, then -360.
    """
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    fidx = np.asarray(fidx, np.int64)
    fxmin, fymin, fxmax, fymax, wrap = fbounds
    keep = wrap[fidx] | ((py >= fymin[fidx]) & (py <= fymax[fidx])
                         & (px >= fxmin[fidx] - 1e-9)
                         & (px <= fxmax[fidx] + 1e-9))
    rx, ry, zi = px[keep], py[keep], fidx[keep]
    hit = points_in_edges_packed(rx, ry, zi, *edges)
    pend = np.flatnonzero(wrap[zi] & ~hit)
    for shift in (360.0, -360.0):
        if not len(pend):
            break
        h2 = points_in_edges_packed(rx[pend] + shift, ry[pend], zi[pend],
                                    *edges)
        hit[pend] |= h2
        pend = pend[~h2]
    out = np.zeros(len(px), dtype=bool)
    out[keep] = hit
    return out


# ---------------------------------------------------------------------------
# Measures (fiona/features.py:206-211 equivalents)
# ---------------------------------------------------------------------------

def shoelace_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Signed-area magnitude of one ring (planar)."""
    xs, ys = _close_ring(np.asarray(xs, np.float64), np.asarray(ys, np.float64))
    return float(abs(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1])) * 0.5)


def ring_length(xs: np.ndarray, ys: np.ndarray, closed: bool = True) -> float:
    xs = np.asarray(xs, np.float64); ys = np.asarray(ys, np.float64)
    if closed:
        xs, ys = _close_ring(xs, ys)
    return float(np.sum(np.hypot(np.diff(xs), np.diff(ys))))


def centroid(xs: np.ndarray, ys: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid of one ring."""
    xs, ys = _close_ring(np.asarray(xs, np.float64), np.asarray(ys, np.float64))
    cross = xs[:-1] * ys[1:] - xs[1:] * ys[:-1]
    a = cross.sum() * 0.5
    if a == 0.0:
        return float(xs[:-1].mean()), float(ys[:-1].mean())
    cx = np.sum((xs[:-1] + xs[1:]) * cross) / (6.0 * a)
    cy = np.sum((ys[:-1] + ys[1:]) * cross) / (6.0 * a)
    return float(cx), float(cy)


def euclid(ax, ay, bx, by) -> np.ndarray:
    ax = np.asarray(ax, np.float64); ay = np.asarray(ay, np.float64)
    return np.sqrt((ax - np.asarray(bx)) ** 2 + (ay - np.asarray(by)) ** 2)


def haversine_m(lng1, lat1, lng2, lat2) -> np.ndarray:
    """Great-circle distance in meters (sphere R=WGS84_R), vectorized."""
    p1, p2 = np.deg2rad(np.asarray(lat1, np.float64)), np.deg2rad(np.asarray(lat2, np.float64))
    dl = np.deg2rad(np.asarray(lng2, np.float64) - np.asarray(lng1, np.float64))
    dp = p2 - p1
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * WGS84_R * np.arcsin(np.sqrt(a))


# ---------------------------------------------------------------------------
# CRS closed forms (fiona/_transform.pyx:62-98 equivalents)
# ---------------------------------------------------------------------------

def to_6933(lng, lat):
    """EPSG:4326 -> EPSG:6933 (cylindrical equal-area, phi1=30deg)."""
    lng = np.asarray(lng, np.float64); lat = np.asarray(lat, np.float64)
    x = WGS84_R * np.deg2rad(lng) * EASE2_COS30
    y = WGS84_R * np.sin(np.deg2rad(lat)) / EASE2_COS30
    return x, y


def from_6933(x, y):
    x = np.asarray(x, np.float64); y = np.asarray(y, np.float64)
    lng = np.rad2deg(x / (WGS84_R * EASE2_COS30))
    lat = np.rad2deg(np.arcsin(np.clip(y * EASE2_COS30 / WGS84_R, -1.0, 1.0)))
    return lng, lat


def to_3857(lng, lat):
    """EPSG:4326 -> EPSG:3857 (web mercator); |lat| clipped to 85.051129."""
    lng = np.asarray(lng, np.float64)
    lat = np.clip(np.asarray(lat, np.float64), -85.051129, 85.051129)
    x = WGS84_R * np.deg2rad(lng)
    y = WGS84_R * np.log(np.tan(np.pi / 4.0 + np.deg2rad(lat) / 2.0))
    return x, y


def from_3857(x, y):
    x = np.asarray(x, np.float64); y = np.asarray(y, np.float64)
    lng = np.rad2deg(x / WGS84_R)
    lat = np.rad2deg(2.0 * np.arctan(np.exp(y / WGS84_R)) - np.pi / 2.0)
    return lng, lat


WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_FE = 500_000.0
_UTM_FN_S = 10_000_000.0


@_lru_cache(maxsize=None)
def _tm_coeffs(a_ell: float = WGS84_A, f_ell: float = WGS84_F):
    """Krüger-series coefficients to n^6 for an ellipsoid (a, f)
    (Karney 2011, "Transverse Mercator with an accuracy of a few
    nanometers"; the same series PROJ's etmerc/GeographicLib use —
    the reference reaches these through PROJ,
    `fiona/_transform.pyx:62-98`)."""
    n = f_ell / (2.0 - f_ell)
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    A = a_ell / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    alpha = np.array([
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180
        - 127 * n5 / 288 + 7891 * n6 / 37800,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630
        - 1983433 * n6 / 1935360,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880
        + 167603 * n6 / 181440,
        49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
        34729 * n5 / 80640 - 3418889 * n6 / 1995840,
        212378941 * n6 / 319334400])
    beta = np.array([
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360
        - 81 * n5 / 512 + 96199 * n6 / 604800,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105
        - 1118711 * n6 / 3870720,
        17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480
        + 5569 * n6 / 90720,
        4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
        4583 * n5 / 161280 - 108847 * n6 / 3991680,
        20648693 * n6 / 638668800])
    delta = np.array([
        2 * n - 2 * n2 / 3 - 2 * n3 + 116 * n4 / 45 + 26 * n5 / 45
        - 2854 * n6 / 675,
        7 * n2 / 3 - 8 * n3 / 5 - 227 * n4 / 45 + 2704 * n5 / 315
        + 2323 * n6 / 945,
        56 * n3 / 15 - 136 * n4 / 35 - 1262 * n5 / 105
        + 73814 * n6 / 2835,
        4279 * n4 / 630 - 332 * n5 / 35 - 399572 * n6 / 14175,
        4174 * n5 / 315 - 144838 * n6 / 6237,
        601676 * n6 / 22275])
    e = np.sqrt(f_ell * (2.0 - f_ell))
    return A, alpha, beta, delta, e


def utm_zone_lon0(zone: int) -> float:
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone {zone} out of range 1..60")
    return -183.0 + 6.0 * zone


def make_tmerc(lat0: float = 0.0, lon0: float = 0.0, k0: float = 1.0,
               fe: float = 0.0, fn: float = 0.0,
               a: float = WGS84_A, f: float = WGS84_F):
    """Transverse Mercator on an arbitrary ellipsoid / origin / scale
    (Krüger series to n^6, Karney 2011 — ~nm agreement with PROJ's
    etmerc).  Returns (forward, inverse) vectorized lng/lat<->x/y
    kernels.  ``lat0`` shifts the northing by the meridian arc from the
    equator to the latitude of origin, like PROJ's +lat_0."""
    A, alpha, beta, delta, e = _tm_coeffs(a, f)

    def _fwd_rel(lng, lat):
        lng = np.asarray(lng, np.float64)
        lat = np.asarray(lat, np.float64)
        lam = np.deg2rad(lng - lon0)
        phi = np.deg2rad(lat)
        sphi = np.sin(phi)
        with np.errstate(divide="ignore"):      # poles: arctanh(+-1)=inf,
            t = np.sinh(np.arctanh(sphi)        # sinh carries it through
                        - e * np.arctanh(e * sphi))
        xi = np.arctan2(t, np.cos(lam))
        eta = np.arctanh(np.sin(lam) / np.hypot(1.0, t))
        xi_s = xi.copy()
        eta_s = eta.copy()
        for j in range(6):
            k = 2.0 * (j + 1)
            xi_s += alpha[j] * np.sin(k * xi) * np.cosh(k * eta)
            eta_s += alpha[j] * np.cos(k * xi) * np.sinh(k * eta)
        return k0 * A * eta_s, k0 * A * xi_s

    fn0 = fn - (float(_fwd_rel(lon0, lat0)[1]) if lat0 else 0.0)

    def forward(lng, lat):
        xr, yr = _fwd_rel(lng, lat)
        return fe + xr, fn0 + yr

    def inverse(x, y):
        x = np.asarray(x, np.float64)
        y = np.asarray(y, np.float64)
        xi = (y - fn0) / (k0 * A)
        eta = (x - fe) / (k0 * A)
        xi_p = xi.copy()
        eta_p = eta.copy()
        for j in range(6):
            k = 2.0 * (j + 1)
            xi_p -= beta[j] * np.sin(k * xi) * np.cosh(k * eta)
            eta_p -= beta[j] * np.cos(k * xi) * np.sinh(k * eta)
        lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
        chi = np.arcsin(np.clip(np.sin(xi_p) / np.cosh(eta_p), -1.0, 1.0))
        phi = chi.copy()
        for j in range(6):
            phi += delta[j] * np.sin(2.0 * (j + 1) * chi)
        return np.rad2deg(lam) + lon0, np.rad2deg(phi)

    return forward, inverse


@_lru_cache(maxsize=None)
def _utm_kernel(zone: int, north: bool):
    return make_tmerc(0.0, utm_zone_lon0(zone), _UTM_K0, _UTM_FE,
                      0.0 if north else _UTM_FN_S)


def to_utm(lng, lat, zone: int, north: bool = True):
    """EPSG:4326 -> UTM zone (EPSG:326xx north / 327xx south): the
    make_tmerc Krüger kernel at k0=0.9996, FE=500km, FN=10000km south."""
    return _utm_kernel(zone, bool(north))[0](lng, lat)


def from_utm(x, y, zone: int, north: bool = True):
    """Inverse UTM -> EPSG:4326 (Krüger series; conformal-to-geodetic
    latitude via the delta series)."""
    return _utm_kernel(zone, bool(north))[1](x, y)


# ---------------------------------------------------------------------------
# conic / azimuthal closed forms (Snyder, "Map Projections — A Working
# Manual", USGS PP 1395: Albers ch. 14, LCC ch. 15, LAEA ch. 24).
# The reference reaches these via PROJ (fiona/_transform.pyx:62-98);
# here each family is an exact ellipsoidal numpy kernel.  EPSG:5070 /
# 2154 / 3035 are GRS80-based datums (NAD83 / RGF93 / ETRS89) that PROJ
# itself treats as WGS84-equivalent absent grid shifts, so the engine's
# 4326 composition applies the same null datum step.
# ---------------------------------------------------------------------------

GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101


def _ell_consts(a, f):
    e2 = f * (2.0 - f)
    return a, e2, np.sqrt(e2)


def _auth_q(sphi, e, e2):
    """Authalic-latitude helper q(phi) (Snyder 3-12)."""
    return (1.0 - e2) * (sphi / (1.0 - e2 * sphi * sphi)
                         - (0.5 / e) * np.log((1.0 - e * sphi)
                                              / (1.0 + e * sphi)))


def _snyder_m(sphi, e2):
    """m(phi) = cos(phi)/sqrt(1 - e^2 sin^2 phi) (Snyder 14-15)."""
    return np.sqrt(1.0 - sphi * sphi) / np.sqrt(1.0 - e2 * sphi * sphi)


def _phi_from_q(q, e, e2, iters: int = 6):
    """Invert q -> phi by Snyder 3-16 Newton iteration (vectorized);
    |q| at the authalic pole maps exactly to +-90 deg."""
    q = np.asarray(q, np.float64)
    qp = _auth_q(1.0, e, e2)
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(iters):
        sphi = np.clip(np.sin(phi), -1.0, 1.0)
        den = 1.0 - e2 * sphi * sphi
        cphi = np.cos(phi)
        # at the poles the correction term -> 0/0; fixed up below
        with np.errstate(divide="ignore", invalid="ignore"):
            d = (den * den / (2.0 * cphi)) * (
                q / (1.0 - e2) - sphi / den
                + (0.5 / e) * np.log((1.0 - e * sphi) / (1.0 + e * sphi)))
        phi = phi + np.where(np.isfinite(d), d, 0.0)
    return np.where(np.abs(q) >= qp * (1.0 - 1e-12),
                    np.sign(q) * (np.pi / 2.0), phi)


def make_albers(lat0, lon0, sp1, sp2, fe, fn, a=GRS80_A, f=GRS80_F):
    """Albers equal-area conic, ellipsoidal 2SP (Snyder eqs 14-1..14-21).
    Returns (forward, inverse) vectorized lng/lat<->x/y kernels."""
    a, e2, e = _ell_consts(a, f)
    s0, s1, s2 = (np.sin(np.deg2rad(v)) for v in (lat0, sp1, sp2))
    m1, m2 = _snyder_m(s1, e2), _snyder_m(s2, e2)
    q0, q1, q2 = (_auth_q(s, e, e2) for s in (s0, s1, s2))
    # 1SP degenerate case (lat_1 == lat_2): the 0/0 limit of
    # -(dm^2/dq) at the parallel is exactly sin(lat_1)
    n = s1 if abs(sp1 - sp2) < 1e-9 else (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * np.sqrt(C - n * q0) / n

    def forward(lng, lat):
        lng = np.asarray(lng, np.float64); lat = np.asarray(lat, np.float64)
        q = _auth_q(np.sin(np.deg2rad(lat)), e, e2)
        rho = a * np.sqrt(np.maximum(C - n * q, 0.0)) / n
        th = n * np.deg2rad(lng - lon0)
        return fe + rho * np.sin(th), fn + rho0 - rho * np.cos(th)

    def inverse(x, y):
        x = np.asarray(x, np.float64) - fe
        y = rho0 - (np.asarray(y, np.float64) - fn)
        rho = np.hypot(x, y)
        th = np.arctan2(np.sign(n) * x, np.sign(n) * y)
        q = (C - (rho * n / a) ** 2) / n
        phi = _phi_from_q(q, e, e2)
        return (np.rad2deg(th / n) + lon0), np.rad2deg(phi)

    return forward, inverse


def make_lcc2sp(lat0, lon0, sp1, sp2, fe, fn, a=GRS80_A, f=GRS80_F):
    """Lambert conformal conic, ellipsoidal 2SP (Snyder eqs 15-1..15-11)."""
    a, e2, e = _ell_consts(a, f)

    def _t(phi):
        sphi = np.sin(phi)
        return (np.tan(np.pi / 4.0 - phi / 2.0)
                / ((1.0 - e * sphi) / (1.0 + e * sphi)) ** (e / 2.0))

    p0, p1, p2 = (np.deg2rad(v) for v in (lat0, sp1, sp2))
    m1, m2 = _snyder_m(np.sin(p1), e2), _snyder_m(np.sin(p2), e2)
    t0, t1, t2 = _t(p0), _t(p1), _t(p2)
    # 1SP degenerate case (lat_1 == lat_2): the limit of
    # d(ln m)/d(ln t) at the parallel is sin(lat_1) (Snyder 15-8 note)
    n = (np.sin(p1) if abs(sp1 - sp2) < 1e-9
         else (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2)))
    Fc = m1 / (n * t1 ** n)
    rho0 = a * Fc * t0 ** n

    def forward(lng, lat):
        lng = np.asarray(lng, np.float64); lat = np.asarray(lat, np.float64)
        rho = a * Fc * _t(np.deg2rad(lat)) ** n
        th = n * np.deg2rad(lng - lon0)
        return fe + rho * np.sin(th), fn + rho0 - rho * np.cos(th)

    def inverse(x, y):
        x = np.asarray(x, np.float64) - fe
        y = rho0 - (np.asarray(y, np.float64) - fn)
        rho = np.sign(n) * np.hypot(x, y)
        th = np.arctan2(np.sign(n) * x, np.sign(n) * y)
        t = (rho / (a * Fc)) ** (1.0 / n)
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        for _ in range(8):     # Snyder 7-9 fixed point, quad convergence
            sphi = e * np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - sphi) / (1.0 + sphi)) ** (e / 2.0))
        return (np.rad2deg(th / n) + lon0), np.rad2deg(phi)

    return forward, inverse


def make_laea(lat0, lon0, fe, fn, a=GRS80_A, f=GRS80_F):
    """Lambert azimuthal equal-area, ellipsoidal oblique case
    (Snyder eqs 24-2..24-29 / 3-11..3-18)."""
    a, e2, e = _ell_consts(a, f)
    qp = _auth_q(1.0, e, e2)
    s0 = np.sin(np.deg2rad(lat0))
    q0 = _auth_q(s0, e, e2)
    b0 = np.arcsin(q0 / qp)
    sb0, cb0 = np.sin(b0), np.cos(b0)
    Rq = a * np.sqrt(qp / 2.0)
    D = a * _snyder_m(s0, e2) / (Rq * cb0)
    lam0 = np.deg2rad(lon0)

    def forward(lng, lat):
        lng = np.asarray(lng, np.float64); lat = np.asarray(lat, np.float64)
        dl = np.deg2rad(lng) - lam0
        q = _auth_q(np.sin(np.deg2rad(lat)), e, e2)
        b = np.arcsin(np.clip(q / qp, -1.0, 1.0))
        sb, cb = np.sin(b), np.cos(b)
        B = Rq * np.sqrt(2.0 / (1.0 + sb0 * sb + cb0 * cb * np.cos(dl)))
        return (fe + B * D * cb * np.sin(dl),
                fn + (B / D) * (cb0 * sb - sb0 * cb * np.cos(dl)))

    def inverse(x, y):
        x = np.asarray(x, np.float64) - fe
        y = np.asarray(y, np.float64) - fn
        rho = np.hypot(x / D, D * y)
        ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * Rq), -1.0, 1.0))
        sce, cce = np.sin(ce), np.cos(ce)
        with np.errstate(divide="ignore", invalid="ignore"):
            q = qp * (cce * sb0 + D * y * sce * cb0 / rho)
        q = np.where(rho == 0.0, qp * sb0, q)
        phi = _phi_from_q(q, e, e2)
        lam = lam0 + np.arctan2(
            x * sce, D * rho * cb0 * cce - D * D * y * sb0 * sce)
        return np.rad2deg(lam), np.rad2deg(phi)

    return forward, inverse


# EPSG presets on the GRS80 families above.
to_5070, from_5070 = make_albers(23.0, -96.0, 29.5, 45.5, 0.0, 0.0)
to_2154, from_2154 = make_lcc2sp(46.5, 3.0, 44.0, 49.0,
                                 700_000.0, 6_600_000.0)
to_3035, from_3035 = make_laea(52.0, 10.0, 4_321_000.0, 3_210_000.0)


def make_merc(lon0: float = 0.0, k0: float = 1.0, lat_ts=None,
              fe: float = 0.0, fn: float = 0.0,
              a: float = WGS84_A, f: float = WGS84_F):
    """Mercator, ellipsoidal normal case (Snyder eqs 7-7..7-10); f=0
    gives the spherical case (web mercator's +a=+b).  ``lat_ts``
    (true-scale parallel) overrides ``k0`` like PROJ."""
    e2 = f * (2.0 - f)
    e = np.sqrt(e2)
    if lat_ts is not None:
        k0 = _snyder_m(np.sin(np.deg2rad(lat_ts)), e2)
    lim = 89.9999        # |psi| -> inf at the poles

    def forward(lng, lat):
        lng = np.asarray(lng, np.float64)
        lat = np.clip(np.asarray(lat, np.float64), -lim, lim)
        sphi = np.sin(np.deg2rad(lat))
        psi = np.arctanh(sphi) - e * np.arctanh(e * sphi)
        return fe + a * k0 * np.deg2rad(lng - lon0), fn + a * k0 * psi

    def inverse(x, y):
        x = np.asarray(x, np.float64)
        y = np.asarray(y, np.float64)
        lng = lon0 + np.rad2deg((x - fe) / (a * k0))
        t = np.exp(-(y - fn) / (a * k0))
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        for _ in range(8):   # Snyder 7-9 fixed point, quad convergence
            sphi = e * np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - sphi) / (1.0 + sphi)) ** (e / 2.0))
        return lng, np.rad2deg(phi)

    return forward, inverse


def make_cea(lat_ts: float = 0.0, lon0: float = 0.0,
             fe: float = 0.0, fn: float = 0.0,
             a: float = WGS84_A, f: float = WGS84_F):
    """Cylindrical equal-area, ellipsoidal normal case (Snyder eqs
    10-1..10-6 via the authalic q); f=0 gives the Lambert sphere."""
    e2 = f * (2.0 - f)
    e = np.sqrt(e2)
    k0 = _snyder_m(np.sin(np.deg2rad(lat_ts)), e2)

    if e == 0.0:
        def forward(lng, lat):
            lng = np.asarray(lng, np.float64)
            lat = np.asarray(lat, np.float64)
            return (fe + a * k0 * np.deg2rad(lng - lon0),
                    fn + a * np.sin(np.deg2rad(lat)) / k0)

        def inverse(x, y):
            x = np.asarray(x, np.float64)
            y = np.asarray(y, np.float64)
            lat = np.arcsin(np.clip((y - fn) * k0 / a, -1.0, 1.0))
            return lon0 + np.rad2deg((x - fe) / (a * k0)), np.rad2deg(lat)

        return forward, inverse

    def forward(lng, lat):
        lng = np.asarray(lng, np.float64)
        lat = np.asarray(lat, np.float64)
        q = _auth_q(np.sin(np.deg2rad(lat)), e, e2)
        return (fe + a * k0 * np.deg2rad(lng - lon0),
                fn + a * q / (2.0 * k0))

    def inverse(x, y):
        x = np.asarray(x, np.float64)
        y = np.asarray(y, np.float64)
        q = 2.0 * k0 * (y - fn) / a
        return (lon0 + np.rad2deg((x - fe) / (a * k0)),
                np.rad2deg(_phi_from_q(q, e, e2)))

    return forward, inverse


def make_stere_polar(lat_ts: float, lon0: float,
                     fe: float = 0.0, fn: float = 0.0,
                     south: bool = False,
                     a: float = WGS84_A, f: float = WGS84_F):
    """Polar stereographic, ellipsoidal (Snyder eqs 21-33..21-41 /
    3-1) with a true-scale parallel — the EPSG "variant B" used by
    EPSG:3031/3413.  ``south=True`` is the south-polar aspect."""
    e2 = f * (2.0 - f)
    e = np.sqrt(e2)
    sgn = -1.0 if south else 1.0

    def _t(phi):      # Snyder 15-9 conformal-colatitude function
        sphi = np.sin(phi)
        return (np.tan(np.pi / 4.0 - phi / 2.0)
                / ((1.0 - e * sphi) / (1.0 + e * sphi)) ** (e / 2.0))

    pts = np.deg2rad(lat_ts)    # caller passes the ABSOLUTE parallel
    # rho = a * m(lat_ts) * t(phi) / t(lat_ts); at lat_ts = +-90 the
    # ratio's limit gives the "variant A" k0=1 scaling (Snyder 21-39)
    if abs(lat_ts) >= 90.0 - 1e-12:
        scale = a * 2.0 / np.sqrt((1.0 + e) ** (1.0 + e)
                                  * (1.0 - e) ** (1.0 - e))
    else:
        scale = a * _snyder_m(np.sin(pts), e2) / _t(pts)

    def forward(lng, lat):
        lng = np.asarray(lng, np.float64)
        lat = np.asarray(lat, np.float64)
        rho = scale * _t(np.deg2rad(sgn * lat))
        th = np.deg2rad(lng - lon0)
        # both aspects keep easting along lon0+90E; northing flips
        return fe + rho * np.sin(th), fn - sgn * rho * np.cos(th)

    def inverse(x, y):
        x = np.asarray(x, np.float64) - fe
        yrel = sgn * (fn - np.asarray(y, np.float64))
        rho = np.hypot(x, yrel)
        t = rho / scale
        phi = np.pi / 2.0 - 2.0 * np.arctan(t)
        for _ in range(8):   # Snyder 7-9 fixed point
            sphi = e * np.sin(phi)
            phi = np.pi / 2.0 - 2.0 * np.arctan(
                t * ((1.0 - sphi) / (1.0 + sphi)) ** (e / 2.0))
        lam = np.arctan2(x, yrel)
        return lon0 + np.rad2deg(lam), sgn * np.rad2deg(phi)

    return forward, inverse


# ---------------------------------------------------------------------------
# proj4 -> kernel dispatch (the engine's "arbitrary CRS" surface: any
# parameterization of the implemented families, not just EPSG presets —
# `fiona/transform.py` reaches the same space through PROJ)
# ---------------------------------------------------------------------------

# named ellipsoids/datums the engine resolves without grid shifts
# (PROJ's own gridless default treats these datum steps as null)
_ELLIPSOIDS = {
    "WGS84": (WGS84_A, WGS84_F),
    "GRS80": (GRS80_A, GRS80_F),
    "NAD83": (GRS80_A, GRS80_F),
    "ETRS89": (GRS80_A, GRS80_F),
    "intl": (6378388.0, 1.0 / 297.0),
    "clrk66": (6378206.4, 1.0 / 294.9786982),
}


def _proj4_ellipsoid(d: dict):
    """(a, f) from proj4 params; explicit +a/+b/+rf win, then named
    +ellps / +datum, then +R spheres; unknown names -> None."""
    if "a" in d:
        a = float(d["a"])
        if "b" in d:
            b = float(d["b"])
            return a, (a - b) / a
        if "rf" in d:
            return a, 1.0 / float(d["rf"])
        return a, 0.0
    if "R" in d:
        return float(d["R"]), 0.0
    name = d.get("ellps") or d.get("datum") or "WGS84"
    return _ELLIPSOIDS.get(name)


def kernel_from_proj4(p4):
    """proj4 string or dict -> (forward, inverse) vectorized kernels
    w.r.t. EPSG:4326 lng/lat, or None when the projection family is
    outside the engine's closed forms.  Families: longlat (identity),
    utm / tmerc / etmerc, merc / webmerc, cea, aea, lcc (1SP + 2SP),
    laea, stere (polar aspects)."""
    if isinstance(p4, str):
        d = {}
        for tok in p4.split():
            tok = tok.lstrip("+")
            if "=" in tok:
                k, v = tok.split("=", 1)
                d[k] = v
            elif tok:
                d[tok] = True
    else:
        d = dict(p4)
    proj = d.get("proj")
    if proj == "longlat":
        ident = lambda x, y: (np.asarray(x, np.float64),  # noqa: E731
                              np.asarray(y, np.float64))
        return ident, ident
    ell = _proj4_ellipsoid(d)
    if ell is None:
        return None
    a, f = ell

    def g(key, default=0.0):
        return float(d.get(key, default))

    k0 = float(d.get("k", d.get("k_0", 1.0)))
    if proj == "utm" and "zone" in d:
        return make_tmerc(0.0, utm_zone_lon0(int(d["zone"])), _UTM_K0,
                          _UTM_FE, _UTM_FN_S if "south" in d else 0.0,
                          a, f)
    if proj in ("tmerc", "etmerc"):
        return make_tmerc(g("lat_0"), g("lon_0"), k0,
                          g("x_0"), g("y_0"), a, f)
    if proj == "webmerc":
        return make_merc(g("lon_0"), 1.0, None, g("x_0"), g("y_0"),
                         a, 0.0)
    if proj == "merc":
        lat_ts = float(d["lat_ts"]) if "lat_ts" in d else None
        return make_merc(g("lon_0"), k0, lat_ts, g("x_0"), g("y_0"),
                         a, f)
    if proj == "cea":
        return make_cea(g("lat_ts"), g("lon_0"), g("x_0"), g("y_0"),
                        a, f)
    if proj == "aea":
        lat1 = g("lat_1", g("lat_0"))
        return make_albers(g("lat_0"), g("lon_0"), lat1,
                           float(d.get("lat_2", lat1)),
                           g("x_0"), g("y_0"), a, f)
    if proj == "lcc":
        if k0 != 1.0:
            return None      # LCC-1SP with k_0 != 1 not implemented
        lat1 = g("lat_1", g("lat_0"))
        return make_lcc2sp(g("lat_0"), g("lon_0"), lat1,
                           float(d.get("lat_2", lat1)),
                           g("x_0"), g("y_0"), a, f)
    if proj == "laea":
        return make_laea(g("lat_0"), g("lon_0"), g("x_0"), g("y_0"),
                         a, f)
    if proj == "stere" and abs(g("lat_0")) >= 90.0 - 1e-9:
        if k0 != 1.0 and "lat_ts" not in d:
            return None      # polar variant A with k0 != 1: unhandled
        south = g("lat_0") < 0
        lat_ts = float(d.get("lat_ts", 90.0 if not south else -90.0))
        return make_stere_polar(abs(lat_ts), g("lon_0"),
                                g("x_0"), g("y_0"), south, a, f)
    return None


# ---------------------------------------------------------------------------
# Simplify / buffer (fiona/features.py wrappers -> numpy)
# ---------------------------------------------------------------------------

def douglas_peucker(xs: np.ndarray, ys: np.ndarray, tol: float) -> np.ndarray:
    """Boolean keep-mask for one polyline; iterative stack (no recursion)."""
    xs = np.asarray(xs, np.float64); ys = np.asarray(ys, np.float64)
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        dx, dy = xs[i1] - xs[i0], ys[i1] - ys[i0]
        seg = np.hypot(dx, dy)
        mx, my = xs[i0 + 1:i1], ys[i0 + 1:i1]
        if seg == 0.0:
            d = np.hypot(mx - xs[i0], my - ys[i0])
        else:
            # point-to-SEGMENT distance (clamped projection), matching
            # GEOS DouglasPeuckerLineSimplifier — the infinite-line
            # variant lets points beyond the segment end drift further
            # than tol from the simplified geometry (found by fuzz)
            t = np.clip(((mx - xs[i0]) * dx + (my - ys[i0]) * dy)
                        / (seg * seg), 0.0, 1.0)
            d = np.hypot(mx - (xs[i0] + t * dx), my - (ys[i0] + t * dy))
        j = int(np.argmax(d))
        if d[j] > tol:
            k = i0 + 1 + j
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    return keep


def buffer_convex(xs: np.ndarray, ys: np.ndarray, dist: float):
    """Convex-polygon buffer: offset vertices radially from the centroid
    so that each edge moves out by >= dist (conservative Minkowski
    approximation; exact for circles, slightly over-covers corners)."""
    cx, cy = centroid(xs, ys)
    vx = np.asarray(xs, np.float64) - cx
    vy = np.asarray(ys, np.float64) - cy
    r = np.hypot(vx, vy)
    r_safe = np.where(r == 0, 1.0, r)
    scale = (r + dist) / r_safe
    return cx + vx * scale, cy + vy * scale


def _clean_open_ring(xs, ys):
    """Open the ring (drop explicit closure) and drop zero-length
    edges; returns (xs, ys) float64 arrays."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    keep = (xs != np.roll(xs, -1)) | (ys != np.roll(ys, -1))
    return xs[keep], ys[keep]


def _band_pieces(xs, ys, dist, segs):
    """Minkowski band pieces along ONE ring ORIENTED INTERIOR-ON-LEFT:
    a both-sides slab per edge plus an arc fan at every left-turn
    vertex (the convex vertices of the region the ring bounds) and a
    half-disk cap at every exact reversal (a spike tip, or the end of a
    line walked there and back), fan ends pinned to the slabs' EXACT
    corner floats so the union stitcher matches endpoints bitwise.
    Returns (piece_xs, piece_ys) lists of single rings."""
    n = len(xs)
    px_l, py_l = [], []
    nx1 = np.roll(xs, -1); ny1 = np.roll(ys, -1)
    dx = nx1 - xs; dy = ny1 - ys
    ln = np.hypot(dx, dy)
    ux, uy = dx / ln, dy / ln
    # outward (right-of-direction) unit normals
    ox_, oy_ = uy, -ux
    # ONE-SIDED slabs (classical offset construction: region + outward
    # edge slabs + convex-vertex fans = the Minkowski sum).  Both-sided
    # slabs overlapped the region's own perpendicular edges collinearly,
    # and collinear stacks split at points computed from DIFFERENT edge
    # pairs — ulp-divergent floats broke directed-duplicate dedup at
    # sporadic dist values (the r4 square-buffer raise).  One-sided
    # slabs touch the ring and each other only at EXACT shared floats.
    for i in range(n):
        px_l.append(np.array(
            [xs[i], nx1[i],
             nx1[i] + ox_[i] * dist, xs[i] + ox_[i] * dist]))
        py_l.append(np.array(
            [ys[i], ny1[i],
             ny1[i] + oy_[i] * dist, ys[i] + oy_[i] * dist]))
    th = np.arctan2(oy_, ox_)
    for i in range(n):
        j = (i - 1) % n          # incoming edge index for vertex i
        cross = ux[j] * uy[i] - uy[j] * ux[i]
        if cross < 0 or (cross == 0 and ux[j] * ux[i] + uy[j] * uy[i] > 0):
            continue             # right turn / straight: slabs cover
        t0, t1 = th[j], th[i]
        sweep = (t1 - t0) % (2.0 * np.pi)
        steps = max(2, int(np.ceil(sweep / (2.0 * np.pi / segs))) + 1)
        ang = t0 + np.linspace(0.0, sweep, steps)
        fan_x = np.concatenate(([xs[i]], xs[i] + dist * np.cos(ang)))
        fan_y = np.concatenate(([ys[i]], ys[i] + dist * np.sin(ang)))
        fan_x[1] = xs[i] + ox_[j] * dist; fan_y[1] = ys[i] + oy_[j] * dist
        fan_x[-1] = xs[i] + ox_[i] * dist; fan_y[-1] = ys[i] + oy_[i] * dist
        px_l.append(fan_x); py_l.append(fan_y)
    return px_l, py_l


def _feature_ring_depths(rings):
    """Nesting depth per ring of one feature, by the off-boundary
    VERTEX probe.  Ring i is inside ring j iff a vertex of ring i that
    does not lie on ring j's boundary is inside ring j — within one
    feature rings never cross, so containment is all-or-nothing.  The
    probe must NOT be an interior point of ring i (it can land inside
    the shell's own nested hole — the r4 donut mis-orientation), nor an
    on-boundary vertex (parity-dependent when a hole shares a vertex
    with its shell — the r3 advice)."""
    depths = []
    for i, (xs, ys) in enumerate(rings):
        depth = 0
        for j, (ox, oy) in enumerate(rings):
            if j == i:
                continue
            for k in range(len(xs)):
                if not _on_ring_boundary(float(xs[k]), float(ys[k]),
                                         ox, oy):
                    depth += int(points_in_rings(
                        xs[k:k + 1], ys[k:k + 1], [ox], [oy])[0])
                    break
            else:
                raise UnionDegeneracyError(
                    "ring vertices all on a sibling ring boundary")
        depths.append(depth)
    return depths


def buffer_feature(rings_xs, rings_ys, dist: float, segs: int = 32):
    """EXACT-construction buffer of a MULTI-RING feature (holes
    included), positive or negative ``dist`` — the full semantics of
    the reference's GEOS buffer (`fiona/features.py:128-211`) up to
    the inscribed-arc approximation both share (``segs`` steps per full
    circle; 32 = GEOS ``quad_segs=8``).  Raises UnionDegeneracyError
    if the union kernel hits sub-eps degeneracy.

    dist > 0: union of the feature with Minkowski band pieces along
    every ring (outer rings grow, holes shrink, a hole narrower than
    2*dist closes).  dist < 0: the same construction on the feature's
    COMPLEMENT inside a padded bbox — the dilated complement's
    non-bbox rings, reversed, are the erosion (outer rings shrink and
    can split or vanish; holes grow and can merge).

    Rings are oriented interior-on-left per their vertex-probe nesting
    depth before band construction; `feature_union` re-derives roles
    for the final output, so results follow the union convention
    (outer CCW, holes CW).
    """
    rings = []
    for rx, ry in zip(rings_xs, rings_ys):
        xs, ys = _clean_open_ring(rx, ry)
        if len(xs) >= 3:
            rings.append((xs, ys))
    if not rings:
        return [], []
    if dist == 0:
        return [r[0].copy() for r in rings], [r[1].copy() for r in rings]
    oriented = []
    for (xs, ys), depth in zip(rings, _feature_ring_depths(rings)):
        signed = float(np.sum(xs * np.roll(ys, -1)
                              - np.roll(xs, -1) * ys))
        # interior-on-left: outer (even depth) CCW, hole (odd) CW
        want_ccw = depth % 2 == 0
        if (signed > 0) != want_ccw:
            xs, ys = xs[::-1].copy(), ys[::-1].copy()
        oriented.append((xs, ys))
    if dist > 0:
        feats_x = [[r[0] for r in oriented]]
        feats_y = [[r[1] for r in oriented]]
        for xs, ys in oriented:
            bx, by = _band_pieces(xs, ys, dist, segs)
            feats_x += [[r] for r in bx]
            feats_y += [[r] for r in by]
        return feature_union(feats_x, feats_y)
    # negative: dilate the complement, return its non-bbox rings flipped
    d = -dist
    allx = np.concatenate([r[0] for r in oriented])
    ally = np.concatenate([r[1] for r in oriented])
    pad = d * 3.0 + 1.0
    bx0, bx1 = float(allx.min() - pad), float(allx.max() + pad)
    by0, by1 = float(ally.min() - pad), float(ally.max() + pad)
    rev = [(xs[::-1].copy(), ys[::-1].copy()) for xs, ys in oriented]
    feats_x = [[np.array([bx0, bx1, bx1, bx0])] + [r[0] for r in rev]]
    feats_y = [[np.array([by0, by0, by1, by1])] + [r[1] for r in rev]]
    for xs, ys in rev:
        bx, by = _band_pieces(xs, ys, d, segs)
        feats_x += [[r] for r in bx]
        feats_y += [[r] for r in by]
    rx, ry = feature_union(feats_x, feats_y)
    out_x, out_y = [], []
    for r_x, r_y in zip(rx, ry):
        r_x = np.asarray(r_x); r_y = np.asarray(r_y)
        if r_x.min() <= bx0 or r_x.max() >= bx1:
            continue                        # the bbox outer ring
        out_x.append(r_x[::-1].copy())
        out_y.append(r_y[::-1].copy())
    return out_x, out_y


def buffer_lines(rings_xs, rings_ys, dist: float, segs: int = 32):
    """Buffer of open lines, and of points given as one-vertex rings:
    the union of each line walked there and back through
    :func:`_band_pieces` (slabs on both sides, arc fans at the turns,
    round caps at the ends) and of one ``segs``-gon per point.  A line
    has no interior, so ``dist <= 0`` gives EMPTY."""
    px, py = [], []
    t = np.linspace(0.0, 2.0 * np.pi, segs, endpoint=False)
    for rx, ry in zip(rings_xs, rings_ys):
        xs, ys = np.asarray(rx, np.float64), np.asarray(ry, np.float64)
        if dist <= 0 or not len(xs):
            continue
        keep = np.r_[True, (np.diff(xs) != 0) | (np.diff(ys) != 0)]
        xs, ys = xs[keep], ys[keep]
        if len(xs) == 1:
            px.append(xs[0] + dist * np.cos(t))
            py.append(ys[0] + dist * np.sin(t))
            continue
        bx, by = _band_pieces(np.concatenate([xs, xs[-2:0:-1]]),
                              np.concatenate([ys, ys[-2:0:-1]]), dist, segs)
        px += bx
        py += by
    if not px:
        return [], []
    return feature_union([[v] for v in px], [[v] for v in py])


def convex_hull(px: np.ndarray, py: np.ndarray):
    """Andrew monotone chain; returns hull vertex arrays (ccw, open ring)."""
    pts = np.stack([np.asarray(px, np.float64), np.asarray(py, np.float64)], axis=1)
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts[:, 0], pts[:, 1]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return hull[:, 0], hull[:, 1]


# ---------------------------------------------------------------------------
# Exact even-odd polygon union (fio reduce '(unary_union c)' parity,
# fiona/features.py:282-316 — the reference delegates to shapely's
# unary_union; this is a from-scratch numpy boundary-fragment union)
# ---------------------------------------------------------------------------

# Split-parameter margin for the union kernel: a crossing landing
# within _T_EPS of an edge endpoint is treated AS the endpoint (no
# split).  Without it, an intersection computed from a different edge
# pair can land one ulp inside a pinned endpoint and produce a
# 1e-16-long fragment whose float-exact endpoint lookup breaks ring
# chaining (the r4 square-buffer failures at sporadic distances).
# 1e-9 of the edge parameter matches the kernel's documented
# 1e-9-of-diagonal resolution.
_T_EPS = 1e-9


class UnionDegeneracyError(ValueError):
    """Input not in general position (collinear overlapping edges,
    pinch vertices): caller should fall back to an approximation."""


def _param_on(ex, ey, dx, dy, px, py):
    """Parameter of point (px,py) along edge (ex,ey)+(dx,dy), measured
    on the dominant axis (exact for points ON the edge's line)."""
    if abs(dx) >= abs(dy):
        return (px - ex) / dx if dx != 0 else None
    return (py - ey) / dy if dy != 0 else None


def _on_ring_boundary(px: float, py: float, xs, ys) -> bool:
    """True when point (px, py) lies EXACTLY on an edge of the ring
    (collinear and inside the edge's bbox).  Used to reject nesting
    probes whose even-odd result would be parity-dependent."""
    x1 = np.roll(xs, -1); y1 = np.roll(ys, -1)
    cr = (x1 - xs) * (py - ys) - (y1 - ys) * (px - xs)
    on = ((cr == 0.0)
          & (px >= np.minimum(xs, x1)) & (px <= np.maximum(xs, x1))
          & (py >= np.minimum(ys, y1)) & (py <= np.maximum(ys, y1)))
    return bool(on.any())


def _ring_interior_candidates(xs, ys):
    """Yield points STRICTLY inside a simple ring (O'Rourke
    interior-point, generator form): take the lexicographically
    smallest vertex v (guaranteed convex), its neighbors a/b.  If no
    other vertex lies in triangle (a, v, b) the triangle is an ear, so
    ANY open-triangle point is interior — yield several barycentric
    combinations; else the open segment from v to the in-triangle
    vertex farthest from line a-b is interior — yield several points
    along it.  Multiple candidates matter because a caller may need a
    probe that ALSO avoids a sibling ring's boundary (a grid donut's
    triangle centroid can land exactly on the hole's corner — the r4
    donut regression).  Raises UnionDegeneracyError on a degenerate
    (zero-area) corner."""
    n = len(xs)
    if n < 3:
        raise UnionDegeneracyError("ring with < 3 vertices")
    k = int(np.lexsort((ys, xs))[0])
    a, v, b = (k - 1) % n, k, (k + 1) % n
    ax, ay = float(xs[a]), float(ys[a])
    vx, vy = float(xs[v]), float(ys[v])
    bx, by = float(xs[b]), float(ys[b])
    area2 = (vx - ax) * (by - ay) - (vy - ay) * (bx - ax)
    if area2 == 0.0:
        raise UnionDegeneracyError("collinear corner at interior probe")
    sign = 1.0 if area2 > 0 else -1.0
    ox, oy = np.asarray(xs, np.float64), np.asarray(ys, np.float64)
    d1 = sign * ((vx - ax) * (oy - ay) - (vy - ay) * (ox - ax))
    d2 = sign * ((bx - vx) * (oy - vy) - (by - vy) * (ox - vx))
    d3 = sign * ((ax - bx) * (oy - by) - (ay - by) * (ox - bx))
    inside = (d1 > 0) & (d2 > 0) & (d3 > 0)
    inside[[a, v, b]] = False
    if not inside.any():
        for wa, wv, wb in ((1, 1, 1), (1, 2, 1), (2, 1, 1), (1, 1, 2),
                           (1, 6, 1), (5, 2, 1), (1, 2, 5), (3, 10, 3)):
            s = float(wa + wv + wb)
            yield ((wa * ax + wv * vx + wb * bx) / s,
                   (wa * ay + wv * vy + wb * by) / s)
        return
    # farthest-from-line-a-b inside vertex q: open segment v->q is
    # interior (classic interior-point argument)
    dist_ab = np.where(inside, np.abs((bx - ax) * (oy - ay)
                                      - (by - ay) * (ox - ax)), -np.inf)
    q = int(np.argmax(dist_ab))
    qx, qy = float(xs[q]), float(ys[q])
    for t in (0.5, 0.25, 0.75, 0.125, 0.375, 0.625, 0.875):
        yield (vx + t * (qx - vx), vy + t * (qy - vy))


def _ring_interior_point(xs, ys):
    """First interior candidate (see :func:`_ring_interior_candidates`)."""
    return next(_ring_interior_candidates(xs, ys))


def feature_union(feat_rings_xs, feat_rings_ys, max_edges: int = 200_000):
    """Exact even-odd union of MULTI-RING features (holes included):
    the union of every dissolve stage (``operators.aggregates._dissolve``,
    whose partial results carry holes).  ``feat_rings_xs[i]`` is the ring
    list of feature i.  Ring roles derive from NESTING DEPTH within the
    feature (even = outer, odd = hole) and rings are oriented
    interior-on-left (outer CCW, hole CW) so the exterior-side probe of
    the fragment keep rule works unchanged.  Returns (rings_xs,
    rings_ys) with the same orientation convention.

    Inputs larger than ``max_edges`` DIVIDE-AND-CONQUER (r4): features
    split by bbox-center x-median, halves union recursively, the two
    partial results (each bounded by its union BOUNDARY, not its input
    row count) merge in one final pass — the giant-component dissolve
    no longer hard-fails at the pairwise kernel's O(E^2) budget.  Only
    a near-fractal boundary that stays over budget at 2 features (or a
    single oversized feature) still raises.

    An empty or null ring bounds nothing and is skipped; a feature left
    with no ring adds nothing, and no feature at all unions to no ring.
    """
    kept = [[k for k, r in enumerate(fx) if r is not None and len(r)]
            for fx in feat_rings_xs]
    feat_rings_xs = [[fx[k] for k in ks]
                     for fx, ks in zip(feat_rings_xs, kept) if ks]
    feat_rings_ys = [[fy[k] for k in ks]
                     for fy, ks in zip(feat_rings_ys, kept) if ks]
    n_edges = sum(len(r) for f in feat_rings_xs for r in f)
    if n_edges > max_edges and len(feat_rings_xs) > 2:
        centers = np.array([
            float(np.mean([np.mean(np.asarray(r, np.float64)) for r in f]))
            for f in feat_rings_xs])
        order = np.argsort(centers, kind="stable")
        half = len(order) // 2
        ia, ib = order[:half], order[half:]
        axs, ays = feature_union([feat_rings_xs[i] for i in ia],
                                 [feat_rings_ys[i] for i in ia], max_edges)
        bxs, bys = feature_union([feat_rings_xs[i] for i in ib],
                                 [feat_rings_ys[i] for i in ib], max_edges)
        return feature_union([axs, bxs], [ays, bys], max_edges)
    feats: dict = {}
    for frx, fry in zip(feat_rings_xs, feat_rings_ys):
        rings = []
        for rx, ry in zip(frx, fry):
            xs = np.asarray(rx, np.float64)
            ys = np.asarray(ry, np.float64)
            if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                xs, ys = xs[:-1], ys[:-1]
            k = np.lexsort((ys, xs))[0]
            rings.append((np.roll(xs, -k), np.roll(ys, -k)))
        oriented = []
        for (xs, ys), depth in zip(rings, _feature_ring_depths(rings)):
            signed = float(np.sum(xs * np.roll(ys, -1)
                                  - np.roll(xs, -1) * ys)) * 0.5
            if (signed > 0) != (depth % 2 == 0):
                xs, ys = xs[::-1].copy(), ys[::-1].copy()
                k = np.lexsort((ys, xs))[0]
                xs, ys = np.roll(xs, -k), np.roll(ys, -k)
            oriented.append((xs, ys))
        key = tuple(sorted((xs.tobytes(), ys.tobytes())
                           for xs, ys in oriented))
        feats[key] = oriented
    polys = list(feats.values())
    if len(polys) < 2:
        return ([r[0] for p in polys for r in p],
                [r[1] for p in polys for r in p])

    owner_l, x0_l, y0_l, ring_lens = [], [], [], []
    for i, feat_rings in enumerate(polys):
        for xs, ys in feat_rings:
            owner_l.append(np.full(len(xs), i, dtype=np.int64))
            x0_l.append(xs); y0_l.append(ys)
            ring_lens.append(len(xs))
    owner = np.concatenate(owner_l)
    x0 = np.concatenate(x0_l); y0 = np.concatenate(y0_l)
    # closing edges: one global roll + per-ring boundary fix
    x1 = np.roll(x0, -1); y1 = np.roll(y0, -1)
    lens = np.asarray(ring_lens, dtype=np.int64)
    rstarts = np.cumsum(lens) - lens
    rends = rstarts + lens - 1
    x1[rends] = x0[rstarts]
    y1[rends] = y0[rstarts]
    ne = len(owner)
    if ne > max_edges:
        raise UnionDegeneracyError(f"{ne} edges exceed max_edges={max_edges}")

    # --- 1. pairwise proper intersections (chunked O(E^2) with bbox cut)
    splits: list[list] = [[] for _ in range(ne)]
    rx_ = x1 - x0; ry_ = y1 - y0
    exmin = np.minimum(x0, x1); exmax = np.maximum(x0, x1)
    eymin = np.minimum(y0, y1); eymax = np.maximum(y0, y1)
    CH = 512
    for s in range(0, ne, CH):
        e = slice(s, min(s + CH, ne))
        idx_a = np.arange(s, min(s + CH, ne))
        # candidate pairs: different owner, bbox overlap, a < b
        cand = ((owner[e][:, None] != owner[None, :])
                & (idx_a[:, None] < np.arange(ne)[None, :])
                & (exmin[e][:, None] <= exmax[None, :])
                & (exmax[e][:, None] >= exmin[None, :])
                & (eymin[e][:, None] <= eymax[None, :])
                & (eymax[e][:, None] >= eymin[None, :]))
        ai, bi = np.nonzero(cand)
        if not len(ai):
            continue
        ai = idx_a[ai]
        qpx = x0[bi] - x0[ai]; qpy = y0[bi] - y0[ai]
        denom = rx_[ai] * ry_[bi] - ry_[ai] * rx_[bi]
        tnum = qpx * ry_[bi] - qpy * rx_[bi]
        unum = qpx * ry_[ai] - qpy * rx_[ai]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = tnum / denom
            u = unum / denom
        par = denom == 0
        if np.any(par & (tnum == 0)):
            # collinear pair (shared parcel borders — the COMMON dissolve
            # input): split each edge at the other's endpoints that fall
            # strictly inside it.  Split coordinates are the other
            # edge's EXACT endpoint floats, so both owners' fragments
            # agree bitwise and the exterior-side probe below resolves
            # which copies sit on the union boundary.
            ci = np.nonzero(par & (tnum == 0))[0]
            for k in ci:
                a, b = ai[k], bi[k]
                for (px_, py_) in ((x0[b], y0[b]), (x1[b], y1[b])):
                    tt = _param_on(x0[a], y0[a], rx_[a], ry_[a], px_, py_)
                    if tt is not None and _T_EPS < tt < 1.0 - _T_EPS:
                        splits[a].append((tt, float(px_), float(py_)))
                for (px_, py_) in ((x0[a], y0[a]), (x1[a], y1[a])):
                    uu = _param_on(x0[b], y0[b], rx_[b], ry_[b], px_, py_)
                    if uu is not None and _T_EPS < uu < 1.0 - _T_EPS:
                        splits[b].append((uu, float(px_), float(py_)))
            t[par] = np.nan
        ok = (~par) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
        # at least one side strictly interior: endpoint-only contacts at
        # BOTH edges split nothing
        ok &= ((t > 0) & (t < 1)) | ((u > 0) & (u < 1))
        for k in np.nonzero(ok)[0]:
            a, b = ai[k], bi[k]
            tt, uu = float(t[k]), float(u[k])
            ix = float(x0[a] + tt * rx_[a])
            iy = float(y0[a] + tt * ry_[a])
            if _T_EPS < tt < 1.0 - _T_EPS:
                splits[a].append((tt, ix, iy))
            if _T_EPS < uu < 1.0 - _T_EPS:
                splits[b].append((uu, ix, iy))

    # --- 2. fragments + EXTERIOR-side probe
    fsx, fsy, fex, fey, fown = [], [], [], [], []
    for ei in range(ne):
        pts = [(0.0, float(x0[ei]), float(y0[ei]))]
        pts += sorted(set(splits[ei]))
        pts.append((1.0, float(x1[ei]), float(y1[ei])))
        for (t0_, ax, ay), (t1_, bx, by) in zip(pts[:-1], pts[1:]):
            if ax == bx and ay == by:
                continue
            fsx.append(ax); fsy.append(ay)
            fex.append(bx); fey.append(by)
            fown.append(owner[ei])
    fsx = np.asarray(fsx); fsy = np.asarray(fsy)
    fex = np.asarray(fex); fey = np.asarray(fey)
    fown = np.asarray(fown, dtype=np.int64)
    nf = len(fsx)
    mx = (fsx + fex) * 0.5; my = (fsy + fey) * 0.5

    # Keep a fragment iff a probe just off its EXTERIOR side (right of
    # the CCW direction) lies outside the union of ALL polygons.  For
    # general-position fragments this equals the classic "midpoint
    # strictly outside every other polygon" rule (the interior side is
    # always inside via the owner); for fragments shared by collinear
    # boundaries it additionally drops interior shared borders
    # (adjacent parcels) and keeps one copy of stacked exterior ones.
    # eps is 1e-9 of the component diagonal: geometry closer than that
    # to another boundary is below the kernel's resolution.
    fdx = fex - fsx; fdy = fey - fsy
    fln = np.hypot(fdx, fdy)
    diag = float(np.hypot(x0.max() - x0.min(), y0.max() - y0.min())) or 1.0
    eps = 1e-9 * diag
    prx = mx + eps * (fdy / fln)
    pry = my - eps * (fdx / fln)

    k_polys = len(polys)
    edge_offs, ex0p, ey0p, ex1p, ey1p = pack_feature_edges(
        [[r[0] for r in f] for f in polys],
        [[r[1] for r in f] for f in polys])
    frag_i = np.repeat(np.arange(nf), k_polys)
    poly_j = np.tile(np.arange(k_polys), nf)
    inside = points_in_edges_packed(prx[frag_i], pry[frag_i], poly_j,
                                    edge_offs, ex0p, ey0p, ex1p, ey1p)
    covered = np.zeros(nf, dtype=bool)
    np.logical_or.at(covered, frag_i, inside)
    keep = ~covered

    # --- 3. stitch kept fragments into rings (dedupe stacked copies:
    # two polygons tracing the same directed sub-edge keep ONE).
    # start_map is a MULTI-map: a pinch vertex (checkerboard corner
    # touch) legitimately has several kept fragments leaving one point;
    # the chain then continues with the first candidate CLOCKWISE from
    # the reversed incoming direction — the planar face traversal that
    # keeps the interior on the left, so each touching lobe closes as
    # its own ring instead of raising (r3 verdict "what's missing" #2).
    import math as _math

    start_map: dict = {}
    seen_dir: set = set()
    for fi in np.nonzero(keep)[0]:
        dkey = (float(fsx[fi]), float(fsy[fi]),
                float(fex[fi]), float(fey[fi]))
        if dkey in seen_dir:
            continue
        seen_dir.add(dkey)
        start_map.setdefault(dkey[:2], []).append(int(fi))

    def _next_frag(fi, cands):
        if len(cands) == 1:
            return cands[0]
        rev = _math.atan2(float(fsy[fi] - fey[fi]),
                          float(fsx[fi] - fex[fi]))
        best, best_d = None, None
        for fj in cands:
            ang = _math.atan2(float(fey[fj] - fsy[fj]),
                              float(fex[fj] - fsx[fj]))
            d = (rev - ang) % (2.0 * _math.pi)
            if d == 0.0:                      # exact backtrack: last
                d = 2.0 * _math.pi
            if best_d is None or d < best_d:
                best, best_d = fj, d
        return best

    used = set()
    out_xs, out_ys = [], []
    for key in list(start_map):
        for f0 in start_map[key]:
            if f0 in used:
                continue
            ring_x, ring_y = [], []
            fi = f0
            while True:
                used.add(fi)
                ring_x.append(float(fsx[fi])); ring_y.append(float(fsy[fi]))
                cands = start_map.get((float(fex[fi]), float(fey[fi])))
                if not cands:
                    raise UnionDegeneracyError("open boundary chain")
                live = [c for c in cands if c not in used or c == f0]
                if not live:
                    raise UnionDegeneracyError("chain re-entered mid-ring")
                fi = _next_frag(fi, live)
                if fi == f0:
                    break
            out_xs.append(np.asarray(ring_x))
            out_ys.append(np.asarray(ring_y))
    return out_xs, out_ys


def _clip_halfplane(xs: np.ndarray, ys: np.ndarray, bound: float,
                    keep_le: bool):
    """Sutherland-Hodgman clip of one closed ring against x <= bound
    (keep_le) or x >= bound — fully vectorized: emit kept vertices and
    boundary crossings in traversal order via cumsum positioning."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    x1 = np.roll(xs, -1); y1 = np.roll(ys, -1)
    in0 = xs <= bound if keep_le else xs >= bound
    in1 = x1 <= bound if keep_le else x1 >= bound
    cross = in0 != in1
    with np.errstate(divide="ignore", invalid="ignore"):
        # cy stays inside the errstate block: t is inf/NaN on the
        # non-crossing lanes (masked by `cross` below) and multiplying
        # it would otherwise emit a RuntimeWarning.
        t = (bound - xs) / (x1 - xs)
        cy = ys + t * (y1 - ys)
    counts = in0.astype(np.int64) + cross.astype(np.int64)
    total = int(counts.sum())
    out_x = np.empty(total); out_y = np.empty(total)
    pos = np.cumsum(counts) - counts
    out_x[pos[in0]] = xs[in0]; out_y[pos[in0]] = ys[in0]
    cpos = pos + in0.astype(np.int64)
    out_x[cpos[cross]] = bound; out_y[cpos[cross]] = cy[cross]
    return out_x, out_y


def _split_polyline(xs: np.ndarray, ys: np.ndarray, bound: float):
    """Open-polyline twin of the two :func:`_clip_halfplane` calls of
    :func:`cut_dateline_rings`: the runs of one line on either side of
    x = ``bound`` (+/-180) in traversal order, each crossing point ending
    one run and starting the next (once, when a vertex lies on the
    bound), the far runs shifted back by 360.  Returns (xs, ys) pieces
    of at least 2 vertices."""
    far = xs > bound if bound > 0 else xs < bound
    cut = np.flatnonzero(far[1:] != far[:-1]) + 1   # first vertex of a run
    t = (bound - xs[cut - 1]) / (xs[cut] - xs[cut - 1])
    cy = ys[cut - 1] + t * (ys[cut] - ys[cut - 1])
    pieces = []
    for j, (s, e) in enumerate(zip(np.r_[0, cut], np.r_[cut, len(xs)])):
        px, py = xs[s:e], ys[s:e]
        if j and xs[s] != bound:
            px, py = np.r_[bound, px], np.r_[cy[j - 1], py]
        if j < len(cut) and xs[e - 1] != bound:
            px, py = np.r_[px, bound], np.r_[py, cy[j]]
        if len(px) >= 2:
            pieces.append((px - 2.0 * bound * far[s], py))
    return pieces


#: How far past +/-180 a ring may reach (float noise from a
#: reprojection) and still pass :func:`cut_dateline_rings` uncut.
_DATELINE_EPS = 1e-9


def cut_dateline_rings(rings_xs, rings_ys, offset: float = 10.0,
                       closed: bool = True):
    """Cut geometry RINGS at the antimeridian — the reference's
    WRAPDATELINE/DATELINEOFFSET transform option
    (`fiona/_transform.pyx:151-160`; OGR default offset 10 deg).

    Input rings use the engine's continuous wrap convention (x beyond
    +/-180 for straddling features, as transforms produce).  Rings whose
    x-extent reaches past a dateline by more than 1e-9 are split by
    halfplane clipping into a west part and an east part shifted back
    into [-180, 180]; everything else passes through untouched.
    ``offset`` bounds how far past the dateline a ring may reach and
    still be considered one wrapped feature (beyond it the coordinates
    are treated as malformed and returned unchanged, mirroring OGR's
    DATELINEOFFSET window).  Concave rings may come back as one ring
    with bridge edges ON the cut meridian — even-odd parity downstream
    is unaffected.  ``closed=False`` cuts the rings as open lines
    (:func:`_split_polyline`): no closing edge, one piece per run on
    either side.  A closed input ring (last vertex repeating the first)
    gives closed pieces.  Returns (rings_xs, rings_ys, was_cut).
    """
    out_xs, out_ys, was_cut = [], [], False
    east, west = 180.0 + _DATELINE_EPS, -180.0 - _DATELINE_EPS
    for rx, ry in zip(rings_xs, rings_ys):
        xs = np.asarray(rx, np.float64)
        ys = np.asarray(ry, np.float64)
        xmax = xs.max() if len(xs) else 0.0
        xmin = xs.min() if len(xs) else 0.0
        if ((xmax <= east and xmin >= west)
                or xmax > 180.0 + offset or xmin < -180.0 - offset):
            out_xs.append(xs); out_ys.append(ys)      # no cut, or malformed
            continue
        b = 180.0 if xmax > east else -180.0
        was_cut = True
        if closed:
            near = _clip_halfplane(xs, ys, b, keep_le=b > 0)
            far = _clip_halfplane(xs, ys, b, keep_le=b < 0)
            pieces = [p for p in (near, (far[0] - 2.0 * b, far[1]))
                      if len(p[0]) >= 3]
            if len(xs) > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                pieces = [(px, py) if px[0] == px[-1] and py[0] == py[-1]
                          else (np.r_[px, px[0]], np.r_[py, py[0]])
                          for px, py in pieces]
        else:
            pieces = _split_polyline(xs, ys, b)
        out_xs += [p[0] for p in pieces]
        out_ys += [p[1] for p in pieces]
    return out_xs, out_ys, was_cut
