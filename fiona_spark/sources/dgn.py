"""MicroStation DGN v7 (ISFF) source — reference parity for the DGN
row (`fiona/drvsupport.py:92`: the reference registers DGN "raw"; this
engine ships the read side, the most-used remaining CAD format).

Authored from the public Intergraph Standard File Formats description
(the same document GDAL's dgnlib implements).  A v7 design file is a
flat sequence of elements:

* element header (4 bytes): byte 0 = level (bits 0-5) + deleted flag
  (bit 7); byte 1 = type (bits 0-6) + complex flag (bit 7); bytes 2-3 =
  following size in 16-bit words (LE).
* graphic elements then carry a display header: a 24-byte range block
  (6 × uint32, bias 0x80000000), graphic group (uint16), attribute
  index (uint16), properties (uint16), and symbology (style bits 0-2,
  weight 3-7, color byte).
* 32-bit integers use the PDP-11 word order: HIGH 16-bit word first,
  each word little-endian (``DGN_INT32``) — the classic v7 quirk.

Element types decoded: LINE (3), LINE_STRING (4), SHAPE (6 — closed,
surfaces as Polygon), TEXT (17 — Point at the text origin with the
string as a property), TCB (9 — supplies the UOR scaling).  CELL
HEADER (2) / complex headers (12/14) are skipped as containers; their
component elements stream through on their own, matching how the OGR
driver flattens cells unless asked otherwise.  Unknown graphic types
surface as NULL-geometry rows so attribute audits still see them.

Coordinates: raw UORs (units of resolution) transform through the TCB
as ``(uor - global_origin) / uor_per_master`` — master units, origin
honored.  Files without a TCB read as raw UORs.

Properties per feature (the OGR DGN layer schema subset): Type, Level,
GraphicGroup, ColorIndex, Weight, Style, Text.  Read-only.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import rows_frame

__all__ = ["read_dgn"]

DGNT_CELL_HEADER = 2
DGNT_LINE = 3
DGNT_LINE_STRING = 4
DGNT_SHAPE = 6
DGNT_TCB = 9
DGNT_COMPLEX_CHAIN = 12
DGNT_COMPLEX_SHAPE = 14
DGNT_TEXT = 17

_GEOM_OF = {DGNT_LINE: "LineString", DGNT_LINE_STRING: "LineString",
            DGNT_SHAPE: "Polygon", DGNT_TEXT: "Point"}


def _u16(b: bytes, o: int) -> int:
    return b[o] | (b[o + 1] << 8)


def _i32(b: bytes, o: int) -> int:
    """PDP-11 middle-endian int32: high LE word first, then low LE
    word (dgnlib's DGN_INT32)."""
    v = (_u16(b, o) << 16) | _u16(b, o + 2)
    return v - (1 << 32) if v & (1 << 31) else v


def _scan_elements(blob: bytes):
    """Yield (type, level, complex, deleted, body) per element; body
    includes the 4-byte header for stable offsets."""
    o, n = 0, len(blob)
    while o + 4 <= n:
        level = blob[o] & 0x3F
        deleted = bool(blob[o] & 0x80)
        etype = blob[o + 1] & 0x7F
        is_complex = bool(blob[o + 1] & 0x80)
        words = _u16(blob, o + 2)
        size = 4 + 2 * words
        if etype == 0 and words == 0:
            break                                   # EOF marker
        if o + size > n:
            raise DriverError(
                f"truncated DGN element at offset {o} (type {etype}, "
                f"{size} bytes declared, {n - o} left)")
        yield etype, level, is_complex, deleted, blob[o:o + size]
        o += size


def _symbology(body: bytes):
    """Graphic-element display header: graphic group / properties /
    style / weight / color at fixed v7 offsets."""
    gg = _u16(body, 28)
    style = body[34] & 0x07
    weight = (body[34] >> 3) & 0x1F
    color = body[35]
    return gg, style, weight, color


def _dgn_double(b: bytes, o: int) -> float:
    """v7 double: IEEE754 bits carried as four 16-bit LE words, HIGH
    word first — the 64-bit extension of the DGN_INT32 word order."""
    bits = ((_u16(b, o) << 48) | (_u16(b, o + 2) << 32)
            | (_u16(b, o + 4) << 16) | _u16(b, o + 6))
    return struct.unpack("<d", struct.pack("<Q", bits))[0]


def _tcb_scale(body: bytes):
    """TCB (type 9): sub-units per master (uint32 at 1112), UORs per
    sub-unit (uint32 at 1116), global origin (two word-swapped float64
    at 1240) — the handful of fields coordinate scaling needs."""
    def u32(o):
        return (_u16(body, o) << 16) | _u16(body, o + 2)
    if len(body) < 1256:
        return 1.0, 0.0, 0.0
    sub_per_master = u32(1112)
    uor_per_sub = u32(1116)
    ox = _dgn_double(body, 1240)
    oy = _dgn_double(body, 1248)
    uor_per_master = float(sub_per_master * uor_per_sub) or 1.0
    return uor_per_master, ox, oy


def read_dgn(spark, path: str) -> DataFrame:
    """Open a 2D DGN v7 design file as a ring-model DataFrame."""
    with open(path, "rb") as f:
        blob = f.read()
    if len(blob) < 4:
        raise DriverError(f"not a DGN file: {path!r} too short")

    scale, ox, oy = 1.0, 0.0, 0.0
    rows = []
    fid = 0
    for etype, level, _cpx, deleted, body in _scan_elements(blob):
        if deleted:
            continue
        if etype == DGNT_TCB:
            scale, ox, oy = _tcb_scale(body)
            continue
        if etype in (DGNT_CELL_HEADER, DGNT_COMPLEX_CHAIN,
                     DGNT_COMPLEX_SHAPE):
            continue                     # container: components follow
        gg, style, weight, color = (0, 0, 0, 0)
        if len(body) >= 36:
            gg, style, weight, color = _symbology(body)
        fid += 1
        rec = {"fid": fid, "Type": etype, "Level": level,
               "GraphicGroup": gg, "ColorIndex": color,
               "Weight": weight, "Style": style, "Text": None,
               "geom_type": None, "rings_xs": None, "rings_ys": None}

        def tx(uor_x):
            return (uor_x - ox) / scale

        def ty(uor_y):
            return (uor_y - oy) / scale

        if etype == DGNT_LINE and len(body) >= 52:
            xs = [tx(_i32(body, 36)), tx(_i32(body, 44))]
            ys = [ty(_i32(body, 40)), ty(_i32(body, 48))]
            rec.update(geom_type="LineString",
                       rings_xs=[xs], rings_ys=[ys])
        elif etype in (DGNT_LINE_STRING, DGNT_SHAPE) and len(body) >= 38:
            nv = _u16(body, 36)
            need = 38 + 8 * nv
            if len(body) < need:
                raise DriverError(
                    f"DGN element {fid}: {nv} vertices declared, "
                    f"element only {len(body)} bytes")
            xs = [tx(_i32(body, 38 + 8 * i)) for i in range(nv)]
            ys = [ty(_i32(body, 42 + 8 * i)) for i in range(nv)]
            rec.update(geom_type=_GEOM_OF[etype],
                       rings_xs=[xs], rings_ys=[ys])
        elif etype == DGNT_TEXT and len(body) >= 60:
            nch = body[58]
            txt = body[60:60 + nch].decode("latin-1", "replace")
            rec.update(Text=txt, geom_type="Point",
                       rings_xs=[[tx(_i32(body, 50))]],
                       rings_ys=[[ty(_i32(body, 54))]])
        rows.append(rec)

    if not rows:
        raise DriverError(f"no elements in DGN file {path!r}")
    return rows_frame(spark, rows, {
        "fid": T.LongType(),
        **dict.fromkeys(("Type", "Level", "GraphicGroup", "ColorIndex",
                         "Weight", "Style"), T.IntegerType()),
        "Text": T.StringType()})
