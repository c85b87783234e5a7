"""WKB (well-known binary) geometry codec — the engine's interchange
format for external data.

The reference round-trips every geometry through GDAL's WKB importer/
exporter (`fiona/_geometry.pyx:96-103` OGR_G_ImportFromWkb, `:374-380`
geometryRT) and its test matrix covers all GeoJSON types
(`tests/test_geometry.py:38-150`).  This module is the from-scratch
equivalent: a little-endian WKB reader/writer over GeoJSON-style nested
coordinate lists, plus adapters to the engine's flat ring model
(rings_xs/rings_ys) used by the PIP kernels.

Coordinates are parsed in bulk with ``numpy.frombuffer`` (one memcpy
per ring, not one struct.unpack per vertex); the per-geometry header
walk is plain Python — WKB is an ingest/egress format here, not a hot
join path.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .schema import RINGS_STRUCT, with_ring_columns

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_GEOMETRYCOLLECTION = 7

TYPE_NAMES = {
    WKB_POINT: "Point", WKB_LINESTRING: "LineString",
    WKB_POLYGON: "Polygon", WKB_MULTIPOINT: "MultiPoint",
    WKB_MULTILINESTRING: "MultiLineString", WKB_MULTIPOLYGON: "MultiPolygon",
    WKB_GEOMETRYCOLLECTION: "GeometryCollection",
}
TYPE_CODES = {v: k for k, v in TYPE_NAMES.items()}
# Non-linear / surface ISO types, normalized on decode exactly like the
# reference (fiona/_geometry.pyx:222-231): curves linearize to
# LineString/Polygon equivalents (OGR_G_GetLinearGeometry), Triangle
# forces to Polygon, PolyhedralSurface/TIN force to MultiPolygon.
WKB_CIRCULARSTRING = 8
WKB_COMPOUNDCURVE = 9
WKB_CURVEPOLYGON = 10
WKB_MULTICURVE = 11
WKB_MULTISURFACE = 12
WKB_POLYHEDRALSURFACE = 15
WKB_TIN = 16
WKB_TRIANGLE = 17
# 3D (Z) variants: reference normalizes the OGR 2.5D flag (0x80000000)
# and ISO +1000 codes to a has_z bool; ISO M (+2000) drops to 2D and
# ZM (+3000) to 3D — "Fiona 1.x does not support M"
# (fiona/_geometry.pyx:64-92 normalize/base_geometry_type_code).
_ISO_Z = 1000
_OGR_25D = 0x80000000
_OGR_M = 0x40000000
# default arc linearization step, degrees of arc per segment — OGR's
# OGRGeometryFactory::curveToLineString default (4 deg)
ARC_STEP_DEG = 4.0


class WKBError(ValueError):
    """Malformed WKB payload."""


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _read_header(buf: memoryview, off: int):
    """Returns (little, base_code, has_z, has_m, off).

    Dimension decoding covers the OGR 2.5D flag (0x80000000), the OGR M
    flag (0x40000000) and the ISO offset ranges Z=+1000, M=+2000,
    ZM=+3000.  M ordinates are parsed (so coordinates stay aligned
    inside Multi*/Collection payloads) and then DROPPED, matching the
    reference's normalize_geometry_type_code: M -> 2D, ZM -> 3D
    (fiona/_geometry.pyx:64-81).
    """
    if off + 5 > len(buf):
        raise WKBError("truncated header")
    byte_order = buf[off]
    fmt = "<I" if byte_order == 1 else ">I"
    (raw,) = struct.unpack_from(fmt, buf, off + 1)
    has_z = bool(raw & _OGR_25D)
    has_m = bool(raw & _OGR_M)
    base = raw & 0x3FFFFFFF
    if base >= 3000:
        has_z, has_m, base = True, True, base - 3000
    elif base >= 2000:
        has_m, base = True, base - 2000
    elif base >= _ISO_Z:
        has_z, base = True, base - _ISO_Z
    return byte_order == 1, base, has_z, has_m, off + 5


def _read_coords(buf: memoryview, off: int, n: int, little: bool, ndim: int):
    nbytes = n * ndim * 8
    if off + nbytes > len(buf):
        raise WKBError("truncated coordinates")
    dt = "<f8" if little else ">f8"
    arr = np.frombuffer(buf, dtype=dt, count=n * ndim, offset=off)
    return arr.reshape(n, ndim), off + nbytes


def _read_count(buf: memoryview, off: int, little: bool):
    if off + 4 > len(buf):
        raise WKBError("truncated count")
    (n,) = struct.unpack_from("<I" if little else ">I", buf, off)
    return n, off + 4


def _arc_sweep(a0: float, a1: float, ccw: bool) -> float:
    """Signed sweep from angle a0 to a1 in the given direction."""
    d = (a1 - a0) % (2 * np.pi)
    if ccw:
        return d if d > 1e-12 else 2 * np.pi
    d = d - 2 * np.pi
    return d if d < -1e-12 else -2 * np.pi


def _linearize_arcs(pts: np.ndarray, step_deg: float = ARC_STEP_DEG):
    """CircularString vertices (odd n, arcs on consecutive point
    triplets) -> densified vertex array, OGR GetLinearGeometry analogue
    (fiona/_geometry.pyx:224 linearization of curve types).

    Each arc (p0, p1, p2) samples the circle through the three points
    from p0 to p2 passing p1, one vertex every ``step_deg`` degrees of
    arc; collinear triplets degrade to the two straight segments.
    Original vertices (including every p1) are kept exactly; any Z
    interpolates linearly with arc length.
    """
    if len(pts) < 3 or len(pts) % 2 == 0:
        raise WKBError(f"circularstring needs odd vertex count >= 3, "
                       f"got {len(pts)}")
    out = [pts[0]]
    for i in range(0, len(pts) - 2, 2):
        p0, p1, p2 = pts[i], pts[i + 1], pts[i + 2]
        ax, ay = p0[0], p0[1]
        bx, by = p1[0], p1[1]
        cx, cy = p2[0], p2[1]
        d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        if abs(d) < 1e-12:          # collinear: straight chords
            out.extend([p1, p2])
            continue
        ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
              + (cx * cx + cy * cy) * (ay - by)) / d
        uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
              + (cx * cx + cy * cy) * (bx - ax)) / d
        r = float(np.hypot(ax - ux, ay - uy))
        t0 = float(np.arctan2(ay - uy, ax - ux))
        t1 = float(np.arctan2(by - uy, bx - ux))
        t2 = float(np.arctan2(cy - uy, cx - ux))
        # orientation: the arc runs p0 -> p1 -> p2; pick the direction
        # whose p0->p1 sweep is shorter than p0->p2 in that direction
        ccw = (_arc_sweep(t0, t1, True) <= _arc_sweep(t0, t2, True))
        s01 = _arc_sweep(t0, t1, ccw)
        s12 = _arc_sweep(t1, t2, ccw)
        step = np.deg2rad(step_deg)
        for (ta, sw, pa, pb) in ((t0, s01, p0, p1), (t1, s12, p1, p2)):
            nseg = max(1, int(np.ceil(abs(sw) / step)))
            ts = ta + sw * np.arange(1, nseg) / nseg
            mids = np.empty((len(ts), pts.shape[1]))
            mids[:, 0] = ux + r * np.cos(ts)
            mids[:, 1] = uy + r * np.sin(ts)
            if pts.shape[1] > 2:   # linear Z along the sweep
                mids[:, 2:] = pa[2:] + (pb[2:] - pa[2:]) \
                    * (np.arange(1, nseg) / nseg)[:, None]
            out.extend(mids)
            out.append(pb)
    return np.asarray(out)


def _decode_ring(buf: memoryview, off: int):
    """One CurvePolygon ring: a full sub-geometry (LineString,
    CircularString or CompoundCurve) -> linear vertex list."""
    t, coords, off = _decode_body(buf, off)
    if t != "LineString":
        raise WKBError(f"unsupported curve-polygon ring type {t}")
    return coords, off


def _decode_body(buf: memoryview, off: int):
    little, code, has_z, has_m, off = _read_header(buf, off)
    ndim = 2 + has_z + has_m
    keep = 3 if has_z else 2

    def coords_of(pts: np.ndarray) -> list:
        return pts[:, :keep].tolist()

    if code == WKB_POINT:
        pts, off = _read_coords(buf, off, 1, little, ndim)
        return TYPE_NAMES[code], pts[0, :keep].tolist(), off
    if code == WKB_LINESTRING:
        n, off = _read_count(buf, off, little)
        pts, off = _read_coords(buf, off, n, little, ndim)
        return TYPE_NAMES[code], coords_of(pts), off
    if code == WKB_CIRCULARSTRING:
        n, off = _read_count(buf, off, little)
        pts, off = _read_coords(buf, off, n, little, ndim)
        return "LineString", coords_of(_linearize_arcs(pts[:, :keep])), off
    if code == WKB_COMPOUNDCURVE:
        # members (LineString | CircularString) chain end-to-start
        n_parts, off = _read_count(buf, off, little)
        chain: list = []
        for _ in range(n_parts):
            t, coords, off = _decode_body(buf, off)
            if t != "LineString":
                raise WKBError(f"unsupported compound-curve member {t}")
            chain.extend(coords if not chain else coords[1:])
        return "LineString", chain, off
    if code in (WKB_POLYGON, WKB_TRIANGLE):
        n_rings, off = _read_count(buf, off, little)
        rings = []
        for _ in range(n_rings):
            n, off = _read_count(buf, off, little)
            pts, off = _read_coords(buf, off, n, little, ndim)
            rings.append(coords_of(pts))
        # Triangle -> Polygon (reference: OGR_G_ForceToPolygon,
        # fiona/_geometry.pyx:227-229)
        return "Polygon", rings, off
    if code == WKB_CURVEPOLYGON:
        n_rings, off = _read_count(buf, off, little)
        rings = []
        for _ in range(n_rings):
            ring, off = _decode_ring(buf, off)
            rings.append(ring)
        return "Polygon", rings, off
    if code in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON,
                WKB_GEOMETRYCOLLECTION, WKB_MULTICURVE, WKB_MULTISURFACE,
                WKB_POLYHEDRALSURFACE, WKB_TIN):
        n_parts, off = _read_count(buf, off, little)
        parts, types = [], []
        for _ in range(n_parts):
            t, coords, off = _decode_body(buf, off)
            types.append(t)
            parts.append(coords if code != WKB_GEOMETRYCOLLECTION
                         else {"type": t, "coordinates": coords})
        if code == WKB_MULTICURVE:       # members already linearized
            return "MultiLineString", parts, off
        if code in (WKB_MULTISURFACE, WKB_POLYHEDRALSURFACE, WKB_TIN):
            # -> MultiPolygon (OGR_G_ForceToMultiPolygon,
            # fiona/_geometry.pyx:230-231)
            return "MultiPolygon", parts, off
        return TYPE_NAMES[code], parts, off
    raise WKBError(f"unsupported wkb type code {code}")


def decode(data: bytes) -> dict:
    """WKB bytes -> {'type': GeoJSON type, 'coordinates': nested lists}.

    GeometryCollection coordinates are a list of member geometry dicts
    (mirroring fiona.model.Geometry.geometries).
    """
    t, coords, off = _decode_body(memoryview(data), 0)
    if off != len(data):
        raise WKBError(f"{len(data) - off} trailing bytes")
    return {"type": t, "coordinates": coords}


# ---------------------------------------------------------------------------
# encode (little-endian, 2D / 3D from coordinate arity)
# ---------------------------------------------------------------------------

def _enc_coords(out: list, pts) -> None:
    arr = np.asarray(pts, dtype="<f8")
    out.append(struct.pack("<I", arr.shape[0]))
    out.append(arr.tobytes())


def _encode_body(g: dict, out: list) -> None:
    t = g["type"]
    coords = g.get("coordinates")
    if t == "GeometryCollection":
        members = g.get("geometries", coords or [])
        out.append(struct.pack("<BI", 1, WKB_GEOMETRYCOLLECTION))
        out.append(struct.pack("<I", len(members)))
        for m in members:
            _encode_body(m, out)
        return
    code = TYPE_CODES[t]
    first = coords
    while isinstance(first, (list, tuple)) and first and \
            isinstance(first[0], (list, tuple)):
        first = first[0]
    ndim = len(first) if isinstance(first, (list, tuple)) else len(coords)
    iso = code + _ISO_Z if ndim == 3 else code
    out.append(struct.pack("<BI", 1, iso))
    if t == "Point":
        out.append(np.asarray(coords, dtype="<f8").tobytes())
    elif t == "LineString":
        _enc_coords(out, coords)
    elif t == "Polygon":
        out.append(struct.pack("<I", len(coords)))
        for ring in coords:
            _enc_coords(out, ring)
    elif t in ("MultiPoint", "MultiLineString", "MultiPolygon"):
        member_t = t[5:]
        out.append(struct.pack("<I", len(coords)))
        for part in coords:
            _encode_body({"type": member_t, "coordinates": part}, out)
    else:
        raise WKBError(f"unsupported type {t}")


def encode(g: dict) -> bytes:
    """{'type', 'coordinates'} -> little-endian (ISO for 3D) WKB bytes."""
    out: list = []
    _encode_body(g, out)
    return b"".join(out)


# ---------------------------------------------------------------------------
# adapters to the engine ring model
# ---------------------------------------------------------------------------

def promote_multi(g: dict) -> dict:
    """Polygon -> MultiPolygon (etc.) promotion, as the reference applies
    on heterogeneous writes (fiona/collection.py:699-720)."""
    t = g["type"]
    if t in ("Point", "LineString", "Polygon"):
        return {"type": f"Multi{t}", "coordinates": [g["coordinates"]]}
    return g


def wkb_to_rings_udf() -> Column:
    """pandas UDF factory: binary WKB column -> (geom_type, rings_xs,
    rings_ys) struct, ready for pip_join's multi-ring path.  A null
    value gives a null geometry; malformed bytes raise WKBError."""
    from .model import rings_from_geometry

    @F.pandas_udf(RINGS_STRUCT)
    def conv(b: pd.Series) -> pd.DataFrame:
        rows = [(None, None, None) if raw is None
                else rings_from_geometry(decode(bytes(raw))) for raw in b]
        return pd.DataFrame(rows, columns=RINGS_STRUCT.names)
    return conv


def read_wkb(df: DataFrame, wkb_col: str = "wkb") -> DataFrame:
    """Decode a WKB column into the engine's multi-ring layer shape:
    geom_type, rings_xs, rings_ys + the derived ring columns."""
    out = df.withColumn("_g", wkb_to_rings_udf()(wkb_col))
    return with_ring_columns(
        out.select(*[c for c in df.columns if c != wkb_col], "_g.*"))
