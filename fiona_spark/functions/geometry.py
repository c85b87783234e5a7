"""Geometry functions over the ring model, as Arrow-vectorized UDFs:
Fiona's geometry wrappers (`fiona/features.py:128-211`, with the
``projected=True`` EPSG:6933 convention of `features.py:144-149`) and
``transform_geom`` (`fiona/_transform.pyx:131-183`) over numpy kernels.

Every function takes the whole feature, (geom_type, rings_xs, rings_ys):
holes subtract from area, every part counts, lines are open.  A batch
is read as flat vertex buffers by ``schema.read_rings`` and written back
by ``schema.rings_array``; the only per-feature Python is the kernels'
own.  A null geometry gives a null row, an EMPTY one an EMPTY row.  A
frame with only the first ring enters through ``schema.with_rings``.
``register_all(spark)`` exposes the measures to SQL as ``fs_*``, the
analogue of the reference's injectable func_map (`features.py:213-229`).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pac
from pyspark.sql import functions as F, types as T

from .. import geom
from ..schema import RINGS_STRUCT, read_rings, rings_array, with_ring_columns
from ..transform import _is_geographic_crs, pair_fn

_D = T.DoubleType()
_LINES = ("LineString", "MultiLineString", "LinearRing")
_POINTS = ("Point", "MultiPoint")
#: the ring-model columns every feature function takes, in order
RING_ARGS = tuple(RINGS_STRUCT.names)


def _of_type(geom_type, names) -> np.ndarray:
    """Per feature: ``geom_type`` is one of ``names``."""
    return pac.is_in(geom_type, value_set=pa.array(names)).fill_null(
        False).to_numpy(zero_copy_only=False)


def _starts(counts) -> np.ndarray:
    return np.cumsum(counts) - counts


def _next_vertex(v, lens) -> np.ndarray:
    """Each vertex's successor in its ring, the last one wrapping to the
    first (the closing edge)."""
    nxt = np.roll(v, -1)
    nz = lens > 0
    s = _starts(lens)[nz]
    nxt[s + lens[nz] - 1] = v[s]
    return nxt


def _ring_sums(v, lens) -> np.ndarray:
    """Per-ring sums of a per-vertex array in vertex order (``reduceat``,
    so a one-ring feature sums exactly as a flat ring does); an empty
    ring sums to 0."""
    out = np.zeros(len(lens))
    nz = lens > 0
    if len(v):
        out[nz] = np.add.reduceat(v, _starts(lens)[nz])
    return out


def _feature_sums(v, ring_nx) -> np.ndarray:
    return np.bincount(np.repeat(np.arange(len(ring_nx)), ring_nx),
                       weights=v, minlength=len(ring_nx))


def _ring_signs(x, y, lens, ring_nx, poly) -> np.ndarray:
    """+1 for a shell ring, -1 for a hole: the even-odd nesting depth
    (``geom._feature_ring_depths``) of the rings of every multi-ring
    polygonal feature; all other rings are +1."""
    sign = np.ones(len(lens))
    vs, rs = _starts(lens), _starts(ring_nx)
    for f in np.flatnonzero(poly & (ring_nx > 1)):
        idx = [j for j in range(rs[f], rs[f] + ring_nx[f]) if lens[j]]
        try:
            depths = geom._feature_ring_depths(
                [(x[vs[j]:vs[j] + lens[j]], y[vs[j]:vs[j] + lens[j]])
                 for j in idx])
        except geom.UnionDegeneracyError:
            continue        # a ring lies on a sibling's boundary
        sign[idx] = 1 - 2 * (np.asarray(depths) % 2)
    return sign


class Measures(NamedTuple):
    area: np.ndarray
    length: np.ndarray
    cx: np.ndarray        # NaN for a feature with no vertex
    cy: np.ndarray
    null: np.ndarray


def measures(geom_type, rings_xs, rings_ys, proj=None) -> Measures:
    """Feature area, length and centroid of an Arrow batch: segmented
    sums over the flat vertex buffer.  Polygonal rings are closed and
    signed by even-odd depth, so holes subtract; lines are open with
    area 0; points have area and length 0.  The centroid is
    area-weighted on polygons, length-weighted on lines, and the vertex
    mean on points or where that weight is 0.  ``proj`` maps the flat
    vertices first (area and length in projected units)."""
    r = read_rings(rings_xs, rings_ys)
    x, y = proj(r.x, r.y) if proj is not None else (r.x, r.y)
    lens, nx = r.ring_lens, r.ring_nx
    line, point = _of_type(geom_type, _LINES), _of_type(geom_type, _POINTS)
    poly = ~(line | point)
    ring_feat = np.repeat(np.arange(len(nx)), nx)
    vfeat = ring_feat[np.repeat(np.arange(len(lens)), lens)]
    x1, y1 = _next_vertex(x, lens), _next_vertex(y, lens)
    cross = x * y1 - x1 * y
    last = np.zeros(len(x), dtype=bool)
    last[(_starts(lens) + lens - 1)[lens > 0]] = True
    seg = np.where(point[vfeat] | (line[vfeat] & last), 0.0,
                   np.hypot(x1 - x, y1 - y))
    a2 = _ring_sums(cross, lens)                 # twice the signed area
    sign = _ring_signs(x, y, lens, nx, poly) * poly[ring_feat]
    area = _feature_sums(sign * np.abs(a2) * 0.5, nx)
    length = _feature_sums(_ring_sums(seg, lens), nx)
    # vertex mean: an explicitly closed polygon ring counts its first
    # vertex once
    w = np.where(last & poly[vfeat] & (x == x1) & (y == y1)
                 & np.repeat(lens > 1, lens), 0.0, 1.0)
    nv = np.bincount(vfeat, w, len(nx))
    out = []
    for v, v1 in ((x, x1), (y, y1)):
        m_area = _feature_sums(sign * np.sign(a2)
                               * _ring_sums((v + v1) * cross, lens), nx)
        m_line = _feature_sums(_ring_sums(seg * (v + v1), lens), nx) * 0.5
        with np.errstate(divide="ignore", invalid="ignore"):
            out.append(np.where(
                poly & (area != 0), m_area / (6.0 * area),
                np.where(line & (length > 0), m_line / length,
                         np.bincount(vfeat, w * v, len(nx)) / nv)))
    return Measures(area, length, out[0], out[1], r.null)


def _measure_udf(name: str, projected: bool):
    proj = geom.to_6933 if projected else None

    @F.arrow_udf(_D)
    def u(gt: pa.Array, rxs: pa.Array, rys: pa.Array) -> pa.Array:
        m = measures(gt, rxs, rys, proj)
        return pa.array(getattr(m, name), mask=m.null)
    return u


def area_udf(projected: bool = False):
    """Feature area; ``projected=True`` computes in EPSG:6933 m^2 like
    the reference's ``projected='EPSG:6933'`` default
    (`features.py:144-149`)."""
    return _measure_udf("area", projected)


def length_udf(projected: bool = False):
    """Feature length: polygon perimeters (holes included), open line
    lengths, 0 for points."""
    return _measure_udf("length", projected)


def centroid_udf():
    """Feature centroid struct(cx, cy); null for a null or EMPTY one."""
    @F.arrow_udf("cx double, cy double")
    def u(gt: pa.Array, rxs: pa.Array, rys: pa.Array) -> pa.Array:
        m = measures(gt, rxs, rys)
        empty = pa.array(m.null | np.isnan(m.cx))
        return pa.StructArray.from_arrays(
            [pa.array(m.cx), pa.array(m.cy)], names=["cx", "cy"],
            mask=empty)
    return u


_VERTEX_COUNT_SQL = "aggregate(rings_xs, 0L, (n, ring) -> n + size(ring))"


def vertex_count():
    """Feature vertex count (`fiona/features.py:103-125`): a JVM
    aggregate over the ring sizes of ``rings_xs``, no Python."""
    return F.expr(_VERTEX_COUNT_SQL)


def simplify_udf(tol: float):
    """Douglas–Peucker on every ring (`fiona/features.py` simplify);
    points pass through."""
    @F.arrow_udf(RINGS_STRUCT)
    def u(gt: pa.Array, rxs: pa.Array, rys: pa.Array) -> pa.Array:
        r = read_rings(rxs, rys)
        lens = r.ring_lens
        keep = np.ones(len(r.x), dtype=bool)
        run = (lens > 0) & ~_of_type(gt, _POINTS)[
            np.repeat(np.arange(len(r.ring_nx)), r.ring_nx)]
        for s, n in zip(_starts(lens)[run], lens[run]):
            keep[s:s + n] = geom.douglas_peucker(r.x[s:s + n],
                                                 r.y[s:s + n], tol)
        kept = np.bincount(np.repeat(np.arange(len(lens)), lens),
                           weights=keep, minlength=len(lens))
        return rings_array(gt, r.x[keep], r.y[keep], kept.astype(np.int64),
                           r.ring_nx, r.null)
    return u


def buffer_udf(dist: float, segs: int = 32):
    """Feature buffer (`fiona/features.py:128-211`; ``segs`` arc steps per
    full circle, GEOS ``quad_segs=8``): holes included, negative
    ``dist`` erodes (:func:`geom.buffer_feature`); lines and points get
    round caps (:func:`geom.buffer_lines`).  A feature the exact
    union cannot resolve falls back to the conservative convex
    Minkowski approximation (dilation) or EMPTY (erosion).  Rings
    follow the union convention (outer CCW, holes CW); the type is
    Polygon, or MultiPolygon when there is more than one CCW shell."""
    @F.arrow_udf(RINGS_STRUCT)
    def u(gt: pa.Array, rxs: pa.Array, rys: pa.Array) -> pa.Array:
        r = read_rings(rxs, rys)
        cut = np.cumsum(r.ring_lens)[:-1]
        xr, yr = np.split(r.x, cut), np.split(r.y, cut)
        ox, oy, lens = [], [], []
        nx = np.zeros(len(r.ring_nx), dtype=np.int64)
        line, point = _of_type(gt, _LINES), _of_type(gt, _POINTS)
        for f, j in enumerate(_starts(r.ring_nx)):
            fx, fy = xr[j:j + r.ring_nx[f]], yr[j:j + r.ring_nx[f]]
            if r.null[f]:
                continue
            if point[f] and fx:     # every vertex is a point
                fx, fy = (list(np.concatenate(v)[:, None]) for v in (fx, fy))
            try:
                bx, by = (geom.buffer_lines if line[f] or point[f] else
                          geom.buffer_feature)(fx, fy, dist, segs)
            except geom.UnionDegeneracyError:
                bx, by = [], []
                if dist >= 0:
                    hx, hy = geom.buffer_convex(np.concatenate(fx),
                                                np.concatenate(fy), dist)
                    bx, by = [hx], [hy]
            ox += bx
            oy += by
            lens += [len(v) for v in bx]
            nx[f] = len(bx)
        x = np.concatenate([np.empty(0), *ox])
        y = np.concatenate([np.empty(0), *oy])
        lens = np.asarray(lens, dtype=np.int64)
        shells = _feature_sums(_ring_sums(
            x * _next_vertex(y, lens) - _next_vertex(x, lens) * y, lens) > 0,
            nx)
        return rings_array(np.where(shells > 1, "MultiPolygon", "Polygon"),
                           x, y, lens, nx, r.null)
    return u


def distance_udf(haversine: bool = False):
    """Point-to-point distance column (degrees euclid or meters haversine)."""
    @F.pandas_udf(_D)
    def u(ax: pd.Series, ay: pd.Series, bx: pd.Series, by: pd.Series) -> pd.Series:
        if haversine:
            return pd.Series(geom.haversine_m(ax.to_numpy(), ay.to_numpy(),
                                              bx.to_numpy(), by.to_numpy()))
        return pd.Series(geom.euclid(ax.to_numpy(), ay.to_numpy(),
                                     bx.to_numpy(), by.to_numpy()))
    return u


def set_precision_expr(col, grid_size: float):
    """Snap every coordinate of an array<double> column to a grid —
    the engine form of shapely.set_precision as wrapped by the
    reference (`fiona/features.py:206-211`).  Pure JVM transform."""
    if grid_size <= 0:
        raise ValueError("grid_size must be positive")
    gs = F.lit(float(grid_size))
    return F.transform(col, lambda v: F.round(v / gs, 0) * gs)


def recursive_round_expr(col, ndigits: int, depth: int = 1):
    """Round coordinates at any nesting depth (arrays of arrays ... of
    double) — the `fiona/_transform.pyx:186-197` recursive_round
    analogue, as a codegen'd nested transform."""
    if depth <= 1:
        return F.transform(col, lambda v: F.round(v, ndigits))
    return F.transform(col, lambda r: recursive_round_expr(r, ndigits,
                                                           depth - 1))


_XY_T = T.StructType([T.StructField("x", _D), T.StructField("y", _D)])

def transform_udf(src: str, dst: str):
    """Coordinate transform (`fiona/transform.py:11-124` equivalent).

    Closed-form CRS pairs: 4326 <-> 6933/3857, every registry EPSG code
    (UTM family 32601-32760, conic/azimuthal 5070/2154/3035, Mercator
    3395, polar stereographic 3031/3413), and ARBITRARY '+proj=...'
    parameter strings of the implemented kernel families
    (longlat/utm/tmerc/merc/webmerc/cea/aea/lcc/laea/polar stere via
    geom.kernel_from_proj4) — any pair composed through 4326.
    """
    fn = pair_fn(src, dst)

    @F.pandas_udf(_XY_T)
    def u(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        ox, oy = fn(x.to_numpy(np.float64), y.to_numpy(np.float64))
        return pd.DataFrame({"x": ox, "y": oy})
    return u


def register_all(spark) -> None:
    """Register the function library for SQL use (fs_* namespace); the
    feature functions take (geom_type, rings_xs, rings_ys)."""
    spark.udf.register("fs_area", area_udf())
    spark.udf.register("fs_area_m2", area_udf(projected=True))
    spark.udf.register("fs_length", length_udf())
    spark.udf.register("fs_distance", distance_udf())
    spark.udf.register("fs_haversine_m", distance_udf(haversine=True))
    spark.udf.register("fs_centroid", centroid_udf())
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION fs_vertex_count("
              "rings_xs ARRAY<ARRAY<DOUBLE>>) RETURNS BIGINT RETURN "
              + _VERTEX_COUNT_SQL)


def transform_rings(fn, geom_type, rings_xs, rings_ys, cut: bool,
                    offset: float, precision: int):
    """The one ring-transform body of the driver's
    ``transform.transform_geom`` and the executor's
    :func:`transform_geom_udf` (`fiona/_transform.pyx:131-183`), over
    Arrow ring columns.  ``fn`` maps the flat vertex buffer once.  With
    ``cut`` (a geographic destination), the rings whose extent crosses
    +/-180 are WRAPDATELINE-cut by ``geom.cut_dateline_rings`` within
    ``offset`` degrees (lines as open polylines), and a feature that
    gains rings is promoted to its Multi* type like OGR does; Point and
    MultiPoint are never cut.
    ``precision >= 0`` rounds every coordinate.  Returns the Arrow
    struct of :func:`schema.rings_array`: null rows stay null, EMPTY
    rows EMPTY."""
    r = read_rings(rings_xs, rings_ys)
    x, y = (np.atleast_1d(np.asarray(v, np.float64)) for v in fn(r.x, r.y))
    lens, nx = r.ring_lens, r.ring_nx
    ring_feat = np.repeat(np.arange(len(nx)), nx)
    over = np.zeros(len(lens), dtype=bool)
    if cut and len(x):
        nz = lens > 0
        s = _starts(lens)[nz]
        over[nz] = ((np.maximum.reduceat(x, s) > 180.0)
                    | (np.minimum.reduceat(x, s) < -180.0))
        over &= ~_of_type(geom_type, _POINTS)[ring_feat]
    if over.any():
        line = _of_type(geom_type, _LINES)[ring_feat]
        vs, cnt = _starts(lens), np.ones(len(lens), dtype=np.int64)
        px, py, pieces, prev = [], [], [], 0
        for j in np.flatnonzero(over):
            s, e = vs[j], vs[j] + lens[j]
            cx, cy, _ = geom.cut_dateline_rings([x[s:e]], [y[s:e]], offset,
                                                closed=not line[j])
            px += [x[prev:s], *cx]
            py += [y[prev:s], *cy]
            pieces += [len(v) for v in cx]
            cnt[j], prev = len(cx), e
        x, y = np.concatenate(px + [x[prev:]]), np.concatenate(py + [y[prev:]])
        lens = np.repeat(lens, cnt)
        lens[np.repeat(over, cnt)] = pieces
        grew = pa.array(_feature_sums(cnt, nx) > nx)
        nx = _feature_sums(cnt, nx).astype(np.int64)
        for one, multi in (("Polygon", "MultiPolygon"),
                           ("LineString", "MultiLineString")):
            geom_type = pac.if_else(
                pac.and_(grew, pac.equal(geom_type, one)), multi, geom_type)
    if precision >= 0:
        x, y = np.round(x, precision), np.round(y, precision)
    return rings_array(geom_type, x, y, lens, nx, r.null)


def transform_geom_udf(src: str, dst: str, antimeridian_cutting: bool = True,
                       antimeridian_offset: float = 10.0,
                       precision: int = -1):
    """Geometry-level transform over (geom_type, rings_xs, rings_ys) —
    `fiona.transform.transform_geom` parity, one Arrow batch per call
    through :func:`transform_rings`; cutting applies when the
    destination is geographic."""
    fn = pair_fn(src, dst)
    cut = antimeridian_cutting and _is_geographic_crs(dst)

    @F.arrow_udf(RINGS_STRUCT)
    def u(gt: pa.Array, rxs: pa.Array, rys: pa.Array) -> pa.Array:
        return transform_rings(fn, gt, rxs, rys, cut, antimeridian_offset,
                               precision)
    return u


def reproject_rings(df, src: str, dst: str,
                    antimeridian_cutting: bool = False):
    """Reproject a ring-model DataFrame (one distributed
    ``transform_geom_udf`` pass) and rebuild the derived xs/ys/envelope
    columns.  Shared by ``fio cat --dst-crs`` and the VRT
    OGRVRTWarpedLayer."""
    if not set(RING_ARGS) <= set(df.columns):
        raise ValueError("reproject_rings needs ring-model geometry columns")
    u = transform_geom_udf(src, dst,
                           antimeridian_cutting=antimeridian_cutting)
    return with_ring_columns(
        df.withColumn("_t", u(*RING_ARGS))
        .withColumns({c: F.col(f"_t.{c}") for c in RING_ARGS}).drop("_t"))
