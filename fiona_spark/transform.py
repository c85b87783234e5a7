"""Coordinate / geometry reprojection — public-API parity with
`fiona/transform.py:11-124` (`transform`, `transform_geom`) — and the
CRS-pair resolution (`pair_fn`) every transform in the engine uses.

The reference's functions run on plain Python sequences through PROJ;
these run the engine's closed-form numpy kernels.  `transform_geom`
runs the same ring-level body as the Spark UDF
(`functions.geometry.transform_rings`, under `transform_geom_udf`) on
a one-feature Arrow batch, so driver and executor share one
implementation: one kernel call per vertex buffer, WRAPDATELINE cutting
of the rings that cross +/-180 for any geographic destination, Multi*
promotion, rounding.  CRS inputs accept anything `CRS.from_user_input`
does: 'EPSG:4326', proj4 strings, proj4 dicts, WKT, or CRS objects.

For DataFrame columns use `functions.geometry.transform_udf` /
`transform_geom_udf` — this module is for feature-at-a-time driver
logic (CLI helpers, tests, small fix-ups), like the reference's.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from . import geom, model
from .crs import CRS, CRSError

_FORWARD = {("EPSG:4326", "EPSG:6933"): geom.to_6933,
            ("EPSG:6933", "EPSG:4326"): geom.from_6933,
            ("EPSG:4326", "EPSG:3857"): geom.to_3857,
            ("EPSG:3857", "EPSG:4326"): geom.from_3857,
            # conic/azimuthal closed forms (r5, Snyder kernels)
            ("EPSG:4326", "EPSG:5070"): geom.to_5070,
            ("EPSG:5070", "EPSG:4326"): geom.from_5070,
            ("EPSG:4326", "EPSG:2154"): geom.to_2154,
            ("EPSG:2154", "EPSG:4326"): geom.from_2154,
            ("EPSG:4326", "EPSG:3035"): geom.to_3035,
            ("EPSG:3035", "EPSG:4326"): geom.from_3035}


def _kernel_pair(code: str):
    """(forward, inverse) closed-form kernels w.r.t. EPSG:4326 for any
    CRS descriptor the engine can build: a '+proj=...' parameter string
    or any registry/UTM EPSG code whose proj4 belongs to an implemented
    kernel family (geom.kernel_from_proj4)."""
    if code.startswith("+"):
        return geom.kernel_from_proj4(code)
    if code.startswith("EPSG:"):
        try:
            c = CRS.from_epsg(int(code.split(":", 1)[1]))
        except (ValueError, CRSError):
            return None
        return geom.kernel_from_proj4(c.to_proj4())
    if "[" in code:   # WKT1/WKT2 (r6): lower to proj4 via the CRS layer
        try:
            c = CRS.from_wkt(code)
        except CRSError:
            return None
        return geom.kernel_from_proj4(c.to_proj4())
    return None


def _is_geographic_crs(code: str) -> bool:
    """True when the destination is a geographic (degree) CRS — the
    reference's WRAPDATELINE gate applies to any geographic target
    (`fiona/_transform.pyx:151-160`), not just the 4326 spelling."""
    if code == "EPSG:4326":
        return True
    try:
        return CRS.from_user_input(code).is_geographic
    except CRSError:
        return False


def _forward_fn(src: str, dst: str):
    """Direct transform step, or None.  The preset pairs keep their
    historical closed forms (6933 sphere, 3857 clip); everything else —
    the WGS84 UTM family, registry EPSG codes, arbitrary '+proj='
    parameter strings of implemented families — resolves through
    geom.kernel_from_proj4 (the bulk of real projected data the
    reference reaches via PROJ)."""
    if (src, dst) in _FORWARD:
        return _FORWARD[(src, dst)]
    if src == "EPSG:4326":
        k = _kernel_pair(dst)
        return k[0] if k else None
    if dst == "EPSG:4326":
        k = _kernel_pair(src)
        return k[1] if k else None
    return None


def pair_fn(src: str, dst: str):
    """Resolve (src, dst) to one vectorized numpy transform: a direct
    closed-form step, or any two steps composed through EPSG:4326.
    Unknown pairs raise, like Fiona does on an unknown CRS."""
    if src == dst:
        return lambda x, y: (x, y)
    f = _forward_fn(src, dst)
    if f is not None:
        return f
    f1 = _forward_fn(src, "EPSG:4326")
    f2 = _forward_fn("EPSG:4326", dst)
    if f1 and f2:
        return lambda x, y: f2(*f1(x, y))
    raise ValueError(f"unsupported CRS pair {src} -> {dst}")


def _resolve(crs_like) -> str:
    if isinstance(crs_like, str) and crs_like.upper().startswith("EPSG:"):
        return f"EPSG:{int(crs_like.split(':', 1)[1])}"
    c = CRS.from_user_input(crs_like)
    code = c.to_epsg()
    # codeless (parameter-built) CRSs resolve by their proj4 string —
    # pair_fn builds the kernel directly from the parameters
    return f"EPSG:{code}" if code is not None else c.to_proj4()


def transform(src_crs, dst_crs, xs, ys):
    """Transform coordinate sequences between two CRSs
    (`fiona/transform.py:11-78`).  Returns (xp, yp) lists of float."""
    fn = pair_fn(_resolve(src_crs), _resolve(dst_crs))
    ox, oy = fn(np.asarray(xs, np.float64), np.asarray(ys, np.float64))
    return [float(v) for v in np.atleast_1d(ox)], \
        [float(v) for v in np.atleast_1d(oy)]


def transform_geom(src_crs, dst_crs, geometry, antimeridian_cutting=False,
                   antimeridian_offset=10.0, precision=-1):
    """Transform a GeoJSON-like geometry (or a list of them) between
    CRSs (`fiona/transform.py:80-124`; cutting + precision semantics
    from `fiona/_transform.pyx:131-183`).

    With ``antimeridian_cutting`` and a geographic destination, rings
    that land across +/-180 are WRAPDATELINE-cut; a split Polygon /
    LineString is promoted to its Multi* type, like OGR does.
    """
    if isinstance(geometry, (list, tuple)):
        return [transform_geom(src_crs, dst_crs, g, antimeridian_cutting,
                               antimeridian_offset, precision)
                for g in geometry]
    from .functions.geometry import transform_rings
    src, dst = _resolve(src_crs), _resolve(dst_crs)
    gtype, rxs, rys = model.rings_from_geometry(geometry)
    if gtype == "GeometryCollection":
        g = model.decode_object(geometry)
        members = [transform_geom(src_crs, dst_crs, m, antimeridian_cutting,
                                  antimeridian_offset, precision)
                   for m in (g.get("geometries") or [])]
        return model.Geometry(type=gtype, geometries=members)
    if not rxs:                                   # EMPTY passes through
        return model.decode_object(geometry)
    ll = pa.list_(pa.list_(pa.float64()))
    out = transform_rings(
        pair_fn(src, dst), pa.array([gtype]), pa.array([rxs], ll),
        pa.array([rys], ll), antimeridian_cutting and _is_geographic_crs(dst),
        antimeridian_offset, precision).to_pylist()[0]
    return model.geometry_from_rings(out["geom_type"], out["rings_xs"],
                                     out["rings_ys"])
