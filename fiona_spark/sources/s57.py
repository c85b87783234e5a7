"""S-57 (IHO ENC) base-cell reader — reference parity for the S57 row
of the driver table (`fiona/drvsupport.py:116-118`, read-only,
multi-layer).

An ENC base cell (``*.000``) is a sequence of ISO/IEC 8211 records:

* 24-byte leader (record length, base address of the field area, entry
  map giving the directory's length/position/tag widths);
* directory of (tag, field length, field position) entries, terminated
  by the field terminator 0x1e;
* field area: one field per directory entry, fields terminated by 0x1e,
  variable-length subfields by the unit terminator 0x1f.

The first record is the Data Descriptive Record; subsequent records are
data records carrying the S-57 fields.  This reader implements the
ENC product specification's BINARY field layouts directly (IHO S-57
edition 3.1, part 3 — the layouts are fixed by the spec, which is how
the fixture in ``tests/test_s57.py`` is authored independently):

  ======  ==========================================================
  DSPM    RCNM b11, RCID b14, HDAT/VDAT/SDAT b11, CSCL b14,
          DUNI/HUNI/PUNI/COUN b11, **COMF b14, SOMF b14** (coordinate /
          sounding multiplication factors), COMT A
  VRID    RCNM b11 (110 isolated node VI, 120 connected node VC,
          130 edge VE, 140 face VF), RCID b14, RVER b12, RUIN b11
  SG2D    repeating (YCOO b24, XCOO b24) — latitude FIRST, scaled 1/COMF
  SG3D    repeating (YCOO b24, XCOO b24, VE3D b24 scaled 1/SOMF)
  VRPT    repeating (NAME B(40): RCNM 1 byte + RCID 4 bytes LE,
          ORNT b11, USAG b11, TOPI b11, MASK b11)
  FRID    RCNM b11 (=100), RCID b14, PRIM b11 (1 point / 2 line /
          3 area), GRUP b11, OBJL b12, RVER b12, RUIN b11
  FOID    AGEN b12, FIDN b14, FIDS b12
  ATTF    repeating (ATTL b12, ATVL A — 0x1f-terminated)
  FSPT    repeating (NAME B(40), ORNT b11 (2 = reversed), USAG b11,
          MASK b11)
  ======  ==========================================================

Geometry assembly follows the spec's topological model: point features
resolve their FSPT-referenced node's coordinate; line features chain
the referenced edges (an edge's full arc = begin connected node +
SG2D vertices + end connected node, from its VRPT pair), honoring
ORNT=2 reversal; area features close the chained boundary into rings.
Feature attributes surface as ``ATTL_<code>`` columns (S-57 attribute
acronyms live in an external catalogue; codes are stable and
spec-defined, acronym naming can sit on top).  Layers are object
classes: ``layer=`` selects one OBJL code, default all features with an
``objl`` column.

Scope (documented, loud): base cells only (no ``.001+`` update files),
lexical level 0/1 attribute strings, no DDR-driven format overrides —
a cell whose DDR declares non-standard layouts raises rather than
misparses (the ENC product spec mandates exactly these layouts, so
real cells conform).

Single-file format -> r4 convention: bytes parse on the driver into one
typed frame (``drivers.rows_frame``); distributed decode is pointless
below the ~MB cell sizes the format is specified for.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import rows_frame

__all__ = ["read_s57", "listlayers_s57"]

_UT = 0x1F   # unit (subfield) terminator


# -- ISO 8211 record framing -------------------------------------------------

def _records(data: bytes):
    """Yield (leader, [(tag, field_bytes), ...]) per ISO 8211 record."""
    pos = 0
    n = len(data)
    while pos + 24 <= n:
        leader = data[pos:pos + 24]
        try:
            rec_len = int(leader[0:5])
            base = int(leader[12:17])
            len_w = int(leader[20:21])
            pos_w = int(leader[21:22])
            tag_w = int(leader[23:24])
        except ValueError as exc:
            raise DriverError(
                f"malformed ISO 8211 leader at byte {pos}: {exc}") from exc
        if rec_len <= 24 or pos + rec_len > n:
            raise DriverError(
                f"ISO 8211 record at byte {pos} overruns the file "
                f"(record length {rec_len})")
        rec = data[pos:pos + rec_len]
        entry_w = tag_w + len_w + pos_w
        dir_bytes = rec[24:base - 1]        # directory ends with FT
        entries = []
        for off in range(0, len(dir_bytes) - entry_w + 1, entry_w):
            e = dir_bytes[off:off + entry_w]
            tag = e[:tag_w].decode("ascii")
            flen = int(e[tag_w:tag_w + len_w])
            fpos = int(e[tag_w + len_w:])
            entries.append((tag, fpos, flen))
        fields = []
        for tag, fpos, flen in entries:
            raw = rec[base + fpos:base + fpos + flen]
            if raw.endswith(b"\x1e"):
                raw = raw[:-1]
            fields.append((tag, raw))
        yield leader, fields
        pos += rec_len


# -- S-57 binary subfield decode --------------------------------------------

def _b11(raw, o):
    return raw[o], o + 1


def _b12(raw, o):
    return struct.unpack_from("<H", raw, o)[0], o + 2


def _b14(raw, o):
    return struct.unpack_from("<I", raw, o)[0], o + 4


def _b24(raw, o):
    return struct.unpack_from("<i", raw, o)[0], o + 4


def _name(raw, o):
    """B(40) NAME pointer: RCNM (1) + RCID (4, LE)."""
    return (raw[o], struct.unpack_from("<I", raw, o + 1)[0]), o + 5


def _astr(raw, o):
    """0x1f-terminated string subfield."""
    end = raw.find(bytes([_UT]), o)
    if end < 0:
        end = len(raw)
    return raw[o:end].decode("latin-1"), end + 1


def _parse_dspm(raw):
    o = 0
    _rcnm, o = _b11(raw, o)
    _rcid, o = _b14(raw, o)
    for _ in range(3):                      # HDAT VDAT SDAT
        _, o = _b11(raw, o)
    _cscl, o = _b14(raw, o)
    for _ in range(4):                      # DUNI HUNI PUNI COUN
        _, o = _b11(raw, o)
    comf, o = _b14(raw, o)
    somf, o = _b14(raw, o)
    return comf or 1, somf or 1


def _parse_vrid(raw):
    o = 0
    rcnm, o = _b11(raw, o)
    rcid, o = _b14(raw, o)
    return rcnm, rcid


def _parse_frid(raw):
    o = 0
    rcnm, o = _b11(raw, o)
    rcid, o = _b14(raw, o)
    prim, o = _b11(raw, o)
    _grup, o = _b11(raw, o)
    objl, o = _b12(raw, o)
    return rcnm, rcid, prim, objl


def _parse_sg2d(raw, comf):
    pts = []
    o = 0
    while o + 8 <= len(raw):
        y, o = _b24(raw, o)
        x, o = _b24(raw, o)
        pts.append((x / comf, y / comf))
    return pts


def _parse_sg3d(raw, comf, somf):
    pts = []
    o = 0
    while o + 12 <= len(raw):
        y, o = _b24(raw, o)
        x, o = _b24(raw, o)
        z, o = _b24(raw, o)
        pts.append((x / comf, y / comf, z / somf))
    return pts


def _parse_vrpt(raw):
    out = []
    o = 0
    while o + 9 <= len(raw):
        nm, o = _name(raw, o)
        ornt, o = _b11(raw, o)
        usag, o = _b11(raw, o)
        topi, o = _b11(raw, o)
        mask, o = _b11(raw, o)
        out.append({"name": nm, "ornt": ornt, "usag": usag,
                    "topi": topi, "mask": mask})
    return out


def _parse_fspt(raw):
    out = []
    o = 0
    while o + 8 <= len(raw):
        nm, o = _name(raw, o)
        ornt, o = _b11(raw, o)
        usag, o = _b11(raw, o)
        mask, o = _b11(raw, o)
        out.append({"name": nm, "ornt": ornt, "usag": usag, "mask": mask})
    return out


def _parse_attf(raw):
    attrs = {}
    o = 0
    while o + 2 < len(raw):
        attl, o = _b12(raw, o)
        atvl, o = _astr(raw, o)
        attrs[attl] = atvl
    return attrs


# -- cell model --------------------------------------------------------------

_TOPI_BEGIN = 1
_TOPI_END = 2


def _parse_cell(path: str) -> dict:
    with open(path, "rb") as fh:
        data = fh.read()
    recs = iter(_records(data))
    try:
        next(recs)                          # DDR — layouts are per spec
    except StopIteration:
        raise DriverError(f"{path!r}: no ISO 8211 records") from None
    comf, somf = 10_000_000, 10
    nodes = {}                              # (rcnm, rcid) -> [(x, y), ...]
    edges = {}                              # rcid -> {verts, begin, end}
    feats = []
    for _leader, fields in recs:
        fmap = dict(fields)
        if "DSPM" in fmap:
            comf, somf = _parse_dspm(fmap["DSPM"])
        if "VRID" in fmap:
            rcnm, rcid = _parse_vrid(fmap["VRID"])
            sg = _parse_sg2d(fmap["SG2D"], comf) if "SG2D" in fmap else []
            if "SG3D" in fmap:
                sg = [(x, y) for x, y, _z in
                      _parse_sg3d(fmap["SG3D"], comf, somf)]
            if rcnm in (110, 120):          # VI / VC node
                nodes[(rcnm, rcid)] = sg
            elif rcnm == 130:               # VE edge
                begin = end = None
                for p in _parse_vrpt(fmap.get("VRPT", b"")):
                    if p["topi"] == _TOPI_BEGIN:
                        begin = p["name"]
                    elif p["topi"] == _TOPI_END:
                        end = p["name"]
                edges[rcid] = {"verts": sg, "begin": begin, "end": end}
        if "FRID" in fmap:
            rcnm, rcid, prim, objl = _parse_frid(fmap["FRID"])
            if rcnm != 100:
                continue
            feats.append({
                "rcid": rcid, "prim": prim, "objl": objl,
                "attrs": _parse_attf(fmap["ATTF"]) if "ATTF" in fmap else {},
                "fspt": _parse_fspt(fmap.get("FSPT", b""))})
    return {"nodes": nodes, "edges": edges, "features": feats}


def _edge_coords(cell: dict, rcid: int, reverse: bool) -> list:
    e = cell["edges"].get(rcid)
    if e is None:
        raise DriverError(f"feature references missing edge RCID {rcid}")
    pts = []
    if e["begin"] and e["begin"] in cell["nodes"]:
        pts.extend(cell["nodes"][e["begin"]])
    pts.extend(e["verts"])
    if e["end"] and e["end"] in cell["nodes"]:
        pts.extend(cell["nodes"][e["end"]])
    return pts[::-1] if reverse else pts


def _chain(cell: dict, fspt: list) -> list:
    """Concatenate referenced edges into a coordinate chain, dropping
    each join's duplicated shared node."""
    coords = []
    for p in fspt:
        rcnm, rcid = p["name"]
        if rcnm != 130:
            continue
        seg = _edge_coords(cell, rcid, reverse=(p["ornt"] == 2))
        if coords and seg and coords[-1] == seg[0]:
            seg = seg[1:]
        coords.extend(seg)
    return coords


def _feature_geometry(cell: dict, feat: dict):
    prim = feat["prim"]
    if prim == 1:                           # point
        for p in feat["fspt"]:
            node = cell["nodes"].get(p["name"])
            if node:
                x, y = node[0]
                return "Point", [[x]], [[y]]
        return None, None, None
    coords = _chain(cell, feat["fspt"])
    if not coords:
        return None, None, None
    xs = [c[0] for c in coords]
    ys = [c[1] for c in coords]
    if prim == 2:                           # line
        return "LineString", [xs], [ys]
    if prim == 3:                           # area: close the outer ring
        if (xs[0], ys[0]) != (xs[-1], ys[-1]):
            xs.append(xs[0])
            ys.append(ys[0])
        return "Polygon", [xs], [ys]
    raise DriverError(f"unknown S-57 PRIM value {prim}")


def listlayers_s57(path: str) -> list:
    """Object-class layers present in the cell (``OBJL_<code>``)."""
    cell = _parse_cell(path)
    return [f"OBJL_{o}" for o in
            sorted({f["objl"] for f in cell["features"]})]


def read_s57(spark, path: str, layer: str | None = None) -> DataFrame:
    """Open an ENC base cell as a ring-model DataFrame.

    ``layer='OBJL_<code>'`` restricts to one object class (the S57
    multi-layer model); default reads every feature with its ``objl``
    column.  Attribute codes surface as ``ATTL_<code>`` string columns.
    """
    cell = _parse_cell(path)
    feats = cell["features"]
    if layer is not None:
        if not layer.startswith("OBJL_"):
            raise DriverError(
                f"unknown S57 layer {layer!r} (layers are 'OBJL_<code>')")
        want = int(layer[5:])
        feats = [f for f in feats if f["objl"] == want]
        if not feats:
            raise DriverError(f"no features with OBJL={want} in {path!r}")
    attl_codes = sorted({a for f in feats for a in f["attrs"]})
    rows = []
    for f in feats:
        gt, rxs, rys = _feature_geometry(cell, f)
        row = {"fid": f["rcid"], "objl": f["objl"], "prim": f["prim"],
               "geom_type": gt, "rings_xs": rxs, "rings_ys": rys}
        for code in attl_codes:
            row[f"ATTL_{code}"] = f["attrs"].get(code)
        rows.append(row)
    return rows_frame(spark, rows, {
        "fid": T.LongType(), "objl": T.IntegerType(),
        "prim": T.IntegerType(),
        **{f"ATTL_{c}": T.StringType() for c in attl_codes}})
