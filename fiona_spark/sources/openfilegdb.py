"""OpenFileGDB source/sink — reference parity for the OpenFileGDB
driver (`fiona/drvsupport.py:47` registers it "raw": read always,
write/append since GDAL 3.6; r6 adds the engine's write side),
implemented directly on the publicly documented ESRI File Geodatabase
format (the reverse-engineered FGDB spec,
github.com/rouault/dump_gdbtable/wiki/FGDB-Spec): no GDAL.

Layout per table ``a%08x.gdbtable``: 40-byte header (int32 magic=3,
int32 row count, ..., int64 offset of the field-descriptor section),
a field section (utf-16 names, per-type descriptors — the geometry
field carries the SRS WKT, the coordinate quantization grid
xorigin/yorigin/xyscale, and an extent block whose zmin/zmax/mmin/mmax
presence is unreliable, so it is disambiguated by locating the
trailing grid-size block, the same heuristic GDAL applies), then rows
located by the ``a%08x.gdbtablx`` index (int32-ish offsets,
``size_tablx`` bytes each; 0 = deleted).  Each row: int32 size, a
null bitmap over the NULLABLE fields (LSB-first), then values in
declaration order.  Geometry blobs are varint-packed: a shape-type
varuint (extended shapefile enum — Z/M variants parse-then-drop, the
WKB codec's convention), counts, a scaled bbox, then per-vertex
sign-bit varint deltas of ``round((coord - origin) * xyscale)``.

Table ``a00000001`` is GDB_SystemCatalog: (Name, FileFormat) rows
whose 1-based row id IS the table file number — that's both
``listlayers`` and the layer-name -> file resolution.

Spark shape: the driver parses the catalog + field section and slices
per-row byte blobs via the .gdbtablx offsets (cheap); the per-row
GEOMETRY + PROPERTY decode runs DISTRIBUTED in one ``mapInPandas``
over the blob column — the shapefile/GeoPackage/FlatGeobuf blob
convention.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import struct
import uuid as _uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from ..schema import with_ring_columns
from .drivers import feature_rows, ring_schema

FT_INT16, FT_INT32, FT_FLOAT32, FT_FLOAT64, FT_STRING = 0, 1, 2, 3, 4
FT_DATETIME, FT_OBJECTID, FT_GEOMETRY, FT_BINARY, FT_RASTER = 5, 6, 7, 8, 9
FT_UUID, FT_GLOBALID, FT_XML = 10, 11, 12

_S = T.StringType()
_FT_SPARK = {FT_INT16: T.IntegerType(), FT_INT32: T.IntegerType(),
             FT_FLOAT32: T.FloatType(), FT_FLOAT64: T.DoubleType(),
             FT_STRING: _S, FT_DATETIME: _S, FT_OBJECTID: T.LongType(),
             FT_BINARY: T.BinaryType(), FT_UUID: _S, FT_GLOBALID: _S,
             FT_XML: _S}

# extended shapefile enum inside geometry blobs -> (name, has_z, has_m)
_SHAPES = {0: (None, False, False),
           1: ("Point", False, False), 21: ("Point", False, True),
           9: ("Point", True, False), 11: ("Point", True, True),
           8: ("MultiPoint", False, False),
           28: ("MultiPoint", False, True), 20: ("MultiPoint", True, False),
           18: ("MultiPoint", True, True),
           3: ("MultiLineString", False, False),
           23: ("MultiLineString", False, True),
           10: ("MultiLineString", True, False),
           13: ("MultiLineString", True, True),
           5: ("Polygon", False, False), 25: ("Polygon", False, True),
           19: ("Polygon", True, False), 15: ("Polygon", True, True),
           50: ("MultiLineString", None, None),   # general: flags in bits
           51: ("Polygon", None, None),
           52: ("Point", None, None),
           53: ("MultiPoint", None, None)}


def _varuint(b, p):
    r = 0
    s = 0
    while True:
        x = b[p]
        p += 1
        r |= (x & 0x7F) << s
        if not x & 0x80:
            return r, p
        s += 7


def _varint(b, p):
    """FGDB signed varint: bit 6 of the FIRST byte is the sign."""
    x = b[p]
    p += 1
    neg = bool(x & 0x40)
    r = x & 0x3F
    s = 6
    while x & 0x80:
        x = b[p]
        p += 1
        r |= (x & 0x7F) << s
        s += 7
    return (-r if neg else r), p


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

def _gdb_dir(path: str) -> str:
    if not os.path.isdir(path):
        raise DriverError(f"no FileGDB directory at {path!r}")
    return path


def _catalog(path: str) -> dict[int, str]:
    """GDB_SystemCatalog rows: 1-based row id -> table name."""
    d = _read(path, 1, ".gdbtable")
    dx = _read(path, 1, ".gdbtablx")
    names = {}
    for rid, o in _row_offsets(dx):
        # catalog row: no null bitmap (no nullable fields),
        # varuint name length + utf8 name (+ int32 FileFormat)
        ln, p = _varuint(d, o + 4)
        names[rid] = d[p:p + ln].decode("utf-8")
    return names


def _read(path: str, table_no: int, ext: str) -> bytes:
    f = os.path.join(_gdb_dir(path), f"a{table_no:08x}{ext}")
    if not os.path.exists(f):
        raise DriverError(f"missing {f!r}")
    with open(f, "rb") as fh:
        return fh.read()


def _row_offsets(tablx: bytes):
    """-> iterable of (1-based row id, .gdbtable offset), skipping
    deleted rows (offset 0)."""
    n_rows = struct.unpack("<i", tablx[8:12])[0]
    osz = struct.unpack("<i", tablx[12:16])[0]
    for i in range(n_rows):
        o = int.from_bytes(tablx[16 + i * osz:16 + (i + 1) * osz], "little")
        if o:
            yield i + 1, o


def listlayers_gdb(path: str) -> list[str]:
    """User layers of a .gdb (catalog names minus GDB_* system
    tables), in catalog order."""
    return [n for _i, n in sorted(_catalog(path).items())
            if not n.startswith("GDB_")]


# ---------------------------------------------------------------------------
# field descriptors
# ---------------------------------------------------------------------------

def _parse_fields(d: bytes):
    """-> (layer_geom_type_byte, fields) where each field is a dict
    (name, ftype, nullable, geom params for the geometry field)."""
    fdo = struct.unpack("<q", d[32:40])[0]
    sec_size = struct.unpack("<i", d[fdo:fdo + 4])[0]
    end = fdo + 4 + sec_size
    p = fdo + 8
    layer_geom = d[p]
    p += 4
    nfields = struct.unpack("<h", d[p:p + 2])[0]
    p += 2
    fields = []
    for _ in range(nfields):
        nlen = d[p]; p += 1
        name = d[p:p + 2 * nlen].decode("utf-16-le"); p += 2 * nlen
        alen = d[p]; p += 1
        p += 2 * alen                                  # alias, unused
        ft = d[p]; p += 1
        fld = {"name": name, "ftype": ft, "nullable": False}
        if ft == FT_OBJECTID:
            p += 2
        elif ft == FT_GEOMETRY:
            p += 1                                     # unknown byte
            flag = d[p]; p += 1
            fld["nullable"] = bool(flag & 1)
            sl = struct.unpack("<h", d[p:p + 2])[0]; p += 2
            fld["srs"] = d[p:p + sl].decode("utf-16-le"); p += sl
            p += 1                                     # z/m flags byte
            vals = struct.unpack("<10d", d[p:p + 80]); p += 80
            fld.update(xorigin=vals[0], yorigin=vals[1], xyscale=vals[2],
                       morigin=vals[3], mscale=vals[4],
                       zorigin=vals[5], zscale=vals[6])
            # extent: 4, 6 or 8 doubles; the z/m min/max presence is
            # unreliable, so locate the trailing grid block instead
            # (byte 0x00 + int32 grid count in [1..3] + that many
            # doubles) — the same disambiguation GDAL applies
            for k in (4, 6, 8, 0):
                pc = p + 8 * k
                if pc + 5 > end or d[pc] != 0:
                    continue
                ng = struct.unpack("<i", d[pc + 1:pc + 5])[0]
                if 1 <= ng <= 3 and pc + 5 + 8 * ng <= end:
                    # remember where the extent doubles sit so the
                    # APPEND path can patch xmin/ymin/xmax/ymax in
                    # place (section size unchanged)
                    fld["_extent_off"] = p
                    fld["_extent_ndoubles"] = k
                    p = pc + 5 + 8 * ng
                    break
            else:
                raise DriverError(
                    f"cannot locate geometry grid block for {name!r}")
        elif ft == FT_STRING:
            fld["width"] = struct.unpack("<i", d[p:p + 4])[0]; p += 4
            flag = d[p]; p += 1
            fld["nullable"] = bool(flag & 1)
            if flag & 4:
                dl, p = _varuint(d, p)
                p += dl
        elif ft in (FT_BINARY, FT_RASTER, FT_UUID, FT_GLOBALID, FT_XML):
            p += 1                                     # width byte
            flag = d[p]; p += 1
            fld["nullable"] = bool(flag & 1)
        else:                                          # fixed scalars
            fld["width"] = d[p]; p += 1
            flag = d[p]; p += 1
            fld["nullable"] = bool(flag & 1)
            if flag & 4:
                dl = d[p]
                p += 1 + dl
        fields.append(fld)
    return layer_geom, fields


# ---------------------------------------------------------------------------
# row / geometry decode (runs on executors)
# ---------------------------------------------------------------------------

_EPOCH = _dt.datetime(1899, 12, 30)


def _decode_geometry(blob: bytes, gp: dict):
    st, p = _varuint(blob, 0)
    base = st & 0xFF
    if base not in _SHAPES:
        return None, None, None
    name, has_z, has_m = _SHAPES[base]
    if name is None:
        return None, None, None
    if has_z is None:                      # general type: flags in bits
        has_z = bool(st & 0x80000000)
        has_m = bool(st & 0x40000000)
    xo, yo, sc = gp["xorigin"], gp["yorigin"], gp["xyscale"]
    if name == "Point":
        xr, p = _varuint(blob, p)
        if xr == 0:                        # empty point sentinel
            return name, [], []
        yr, p = _varuint(blob, p)
        return name, [[(xr - 1) / sc + xo]], [[(yr - 1) / sc + yo]]
    npts, p = _varuint(blob, p)
    if npts == 0:
        return name, [], []
    if name == "MultiPoint":
        nparts, parts = 1, [npts]
    else:
        nparts, p = _varuint(blob, p)
        parts = []
    for _ in range(4):                     # scaled bbox, recomputable
        _v, p = _varuint(blob, p)
    if name != "MultiPoint":
        tot = 0
        for _ in range(nparts - 1):
            v, p = _varuint(blob, p)
            parts.append(v)
            tot += v
        parts.append(npts - tot)
    cx = cy = 0
    xs = np.empty(npts)
    ys = np.empty(npts)
    for i in range(npts):
        dxv, p = _varint(blob, p)
        dyv, p = _varint(blob, p)
        cx += dxv
        cy += dyv
        xs[i] = cx / sc + xo
        ys[i] = cy / sc + yo
    # z/m payloads trail the xy deltas and are dropped (the WKB
    # codec's parse-then-drop convention) — nothing to consume since
    # the blob length bounds the read
    if name == "MultiPoint":
        return name, [xs.tolist()], [ys.tolist()]
    bounds = np.cumsum([0] + parts)
    rxs = [xs[bounds[i]:bounds[i + 1]].tolist() for i in range(nparts)]
    rys = [ys[bounds[i]:bounds[i + 1]].tolist() for i in range(nparts)]
    return name, rxs, rys


def _decode_row(body: bytes, fid: int, fields: list) -> dict:
    nullable = [f for f in fields if f["nullable"]]
    nb = (len(nullable) + 7) // 8
    bitmap = body[:nb]
    p = nb
    out = {}
    ni = 0
    geom = (None, None, None)
    for f in fields:
        ft = f["ftype"]
        if ft == FT_OBJECTID:
            out[f["name"]] = fid
            continue
        if f["nullable"]:
            is_null = bool(bitmap[ni // 8] >> (ni % 8) & 1)
            ni += 1
            if is_null:
                if ft != FT_GEOMETRY:
                    out[f["name"]] = None
                continue
        if ft == FT_GEOMETRY:
            ln, p = _varuint(body, p)
            geom = _decode_geometry(body[p:p + ln], f)
            p += ln
        elif ft == FT_INT16:
            out[f["name"]] = struct.unpack_from("<h", body, p)[0]; p += 2
        elif ft == FT_INT32:
            out[f["name"]] = struct.unpack_from("<i", body, p)[0]; p += 4
        elif ft == FT_FLOAT32:
            out[f["name"]] = struct.unpack_from("<f", body, p)[0]; p += 4
        elif ft == FT_FLOAT64:
            out[f["name"]] = struct.unpack_from("<d", body, p)[0]; p += 8
        elif ft == FT_DATETIME:
            days = struct.unpack_from("<d", body, p)[0]; p += 8
            out[f["name"]] = (_EPOCH + _dt.timedelta(days=days)) \
                .strftime("%Y-%m-%dT%H:%M:%S")
        elif ft in (FT_STRING, FT_XML):
            ln, p = _varuint(body, p)
            out[f["name"]] = body[p:p + ln].decode("utf-8"); p += ln
        elif ft == FT_BINARY:
            ln, p = _varuint(body, p)
            out[f["name"]] = bytes(body[p:p + ln]); p += ln
        elif ft in (FT_UUID, FT_GLOBALID):
            out[f["name"]] = "{%s}" % str(
                _uuid.UUID(bytes_le=bytes(body[p:p + 16]))).upper()
            p += 16
        else:
            raise DriverError(f"unsupported field type {ft}")
    out["geom_type"], out["rings_xs"], out["rings_ys"] = geom
    return out


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

def read_openfilegdb(spark, path: str, layer: str | None = None) -> DataFrame:
    """Open one layer of an ESRI File Geodatabase directory as a
    ring-model DataFrame: (fid, properties..., geom_type, rings_xs,
    rings_ys, xs, ys, envelope).  ``layer=None`` opens the first user
    layer.  Z/M coordinates parse-then-drop; multipatch rows decode to
    null geometry."""
    cat = _catalog(path)
    by_name = {n: i for i, n in cat.items()}
    if layer is None:
        users = listlayers_gdb(path)
        if not users:
            raise DriverError(f"no user layers in {path!r}")
        layer = users[0]
    if layer not in by_name:
        raise DriverError(
            f"no layer {layer!r} in {path!r} (have {listlayers_gdb(path)})")
    tno = by_name[layer]
    d = _read(path, tno, ".gdbtable")
    dx = _read(path, tno, ".gdbtablx")
    _layer_geom, fields = _parse_fields(d)

    rows = []
    for rid, o in _row_offsets(dx):
        size = struct.unpack("<i", d[o:o + 4])[0]
        rows.append((rid, d[o + 4:o + 4 + size]))
    pdf = pd.DataFrame({"fid": np.array([r[0] for r in rows], np.int64),
                        "gdb0body": [r[1] for r in rows]})
    # explicit schema: inference fails on an empty (0-row) layer
    src = spark.createDataFrame(pdf, schema="fid long, gdb0body binary")
    out_schema = ring_schema({"fid": T.LongType(), **{
        f["name"]: _FT_SPARK[f["ftype"]] for f in fields
        if f["ftype"] != FT_GEOMETRY}})

    def run(batches):
        for b in batches:
            recs = []
            for rec_in in b.to_dict("records"):
                rec = _decode_row(rec_in["gdb0body"], rec_in["fid"], fields)
                rec["fid"] = rec_in["fid"]
                recs.append(rec)
            yield pd.DataFrame(recs)

    out = src.mapInPandas(run, out_schema)
    return with_ring_columns(out)


# ---------------------------------------------------------------------------
# writer (w/a — the reference's drvsupport.py:47 registers OpenFileGDB
# "raw" with write/append since GDAL 3.6; this is the engine's write
# side, authored from the same public FGDB spec as the reader)
# ---------------------------------------------------------------------------

# GDAL's WGS84 defaults for the coordinate quantization grid; the
# engine uses an exact 1e9 xyscale (the spec allows any scale) so
# round((x - xorigin) * xyscale) round-trips doubles to < 1e-9 deg.
_DEF_SRS = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID['
            '"WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],'
            'UNIT["Degree",0.0174532925199433]]')
_DEF_XYSCALE = 1e9
_TABLX_TRAILER = bytes.fromhex("00000000010000000100000000000000")
_FIELDS_END = bytes.fromhex("deadbeef")   # section end marker (fixture)

# layer geometry byte in the field-section header
_LAYER_GEOM = {"Point": 1, "MultiPoint": 2,
               "LineString": 3, "MultiLineString": 3,
               "Polygon": 4, "MultiPolygon": 4}
# extended-shapefile enum written into geometry blobs (2D forms)
_SHAPE_OF = {"Point": 1, "MultiPoint": 8,
             "LineString": 3, "MultiLineString": 3,
             "Polygon": 5, "MultiPolygon": 5}

# bigint/long lower to FLOAT64, GDAL's pre-Integer64 FGDB convention —
# the base format has no 64-bit integer field type, and narrowing to
# INT32 would make large-id datasets unwritable (values are exact up to
# 2^53; beyond that the format simply cannot carry them losslessly).
_SPARK_FT = {"smallint": FT_INT16, "int": FT_INT32, "bigint": FT_FLOAT64,
             "long": FT_FLOAT64, "float": FT_FLOAT32, "double": FT_FLOAT64,
             "string": FT_STRING, "binary": FT_BINARY,
             "timestamp": FT_DATETIME, "date": FT_DATETIME,
             "boolean": FT_INT16}


def _enc_varuint(v: int) -> bytes:
    if v < 0:
        raise DriverError(f"varuint cannot encode negative {v}")
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_varint(v: int) -> bytes:
    """Inverse of :func:`_varint`: bit 6 of the first byte is the
    sign, 6 payload bits first byte, 7 per continuation byte."""
    neg = v < 0
    v = -v if neg else v
    first = (0x40 if neg else 0) | (v & 0x3F)
    v >>= 6
    out = bytearray()
    if v:
        out.append(first | 0x80)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    else:
        out.append(first)
    return bytes(out)


def _encode_geometry(t: str, rxs, rys, gp: dict) -> bytes:
    """Ring-model geometry -> varint-packed FGDB blob (inverse of
    :func:`_decode_geometry`, 2D forms)."""
    xo, yo, sc = gp["xorigin"], gp["yorigin"], gp["xyscale"]
    if t == "Point":
        if not rxs or not rxs[0]:
            return _enc_varuint(1) + _enc_varuint(0)   # empty sentinel
        xr = round((rxs[0][0] - xo) * sc) + 1
        yr = round((rys[0][0] - yo) * sc) + 1
        if xr <= 0 or yr <= 0:
            raise DriverError("coordinate below quantization origin")
        return _enc_varuint(1) + _enc_varuint(xr) + _enc_varuint(yr)
    st = _SHAPE_OF[t]
    allx = [x for r in (rxs or []) for x in r]
    ally = [y for r in (rys or []) for y in r]
    npts = len(allx)
    out = bytearray(_enc_varuint(st) + _enc_varuint(npts))
    if npts == 0:
        return bytes(out)
    sx = [round((x - xo) * sc) for x in allx]
    sy = [round((y - yo) * sc) for y in ally]
    if min(sx) < 0 or min(sy) < 0:
        raise DriverError("coordinate below quantization origin")
    if t != "MultiPoint":
        out += _enc_varuint(len(rxs))
    out += (_enc_varuint(min(sx)) + _enc_varuint(min(sy))
            + _enc_varuint(max(sx) - min(sx))
            + _enc_varuint(max(sy) - min(sy)))
    if t != "MultiPoint":
        for r in rxs[:-1]:
            out += _enc_varuint(len(r))
    cx = cy = 0
    for i in range(npts):
        out += _enc_varint(sx[i] - cx) + _enc_varint(sy[i] - cy)
        cx, cy = sx[i], sy[i]
    return bytes(out)


def _encode_value(ft: int, v, fld: dict) -> bytes:
    if ft == FT_INT16:
        return struct.pack("<h", int(v))
    if ft == FT_INT32:
        iv = int(v)
        if not -2**31 <= iv < 2**31:
            raise DriverError(f"int32 overflow writing {v!r} to FGDB")
        return struct.pack("<i", iv)
    if ft == FT_FLOAT32:
        return struct.pack("<f", float(v))
    if ft == FT_FLOAT64:
        return struct.pack("<d", float(v))
    if ft == FT_DATETIME:
        if isinstance(v, str):
            v = _dt.datetime.strptime(v[:19], "%Y-%m-%dT%H:%M:%S")
        elif isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            v = _dt.datetime(v.year, v.month, v.day)
        return struct.pack("<d", (v - _EPOCH).total_seconds() / 86400.0)
    if ft in (FT_STRING, FT_XML):
        b = str(v).encode("utf-8")
        return _enc_varuint(len(b)) + b
    if ft == FT_BINARY:
        b = bytes(v)
        return _enc_varuint(len(b)) + b
    if ft in (FT_UUID, FT_GLOBALID):
        return _uuid.UUID(str(v).strip("{}")).bytes_le
    raise DriverError(f"unsupported field type {ft} for write")


def _encode_row(rec: dict, fields: list) -> bytes:
    """dict with property values + (geom_type, rings_xs, rings_ys) ->
    row BODY bytes (null bitmap + values; caller prepends int32 size).
    Unused padding bits in the bitmap are SET, matching what real
    FGDB writers emit."""
    nullable = [f for f in fields if f["nullable"]]
    nb = (len(nullable) + 7) // 8
    bitmap = bytearray(nb)
    for i in range(len(nullable), nb * 8):        # padding bits high
        bitmap[i // 8] |= 1 << (i % 8)
    vals = bytearray()
    ni = 0
    for f in fields:
        ft = f["ftype"]
        if ft == FT_OBJECTID:
            continue
        if ft == FT_GEOMETRY:
            v = rec.get("geom_type")
            null = v is None
        else:
            v = rec.get(f["name"])
            null = v is None
        if f["nullable"]:
            if null:
                bitmap[ni // 8] |= 1 << (ni % 8)
            ni += 1
            if null:
                continue
        elif null:
            raise DriverError(f"null value for NOT NULL field "
                              f"{f['name']!r}")
        if ft == FT_GEOMETRY:
            blob = _encode_geometry(rec["geom_type"], rec.get("rings_xs"),
                                    rec.get("rings_ys"), f)
            vals += _enc_varuint(len(blob)) + blob
        else:
            vals += _encode_value(ft, v, f)
    return bytes(bitmap) + bytes(vals)


def _encode_fields(layer_geom: int, fields: list, feature_table: bool) \
        -> bytes:
    """Field list -> the .gdbtable field-descriptor section (starting
    at the int32 section size, ending with the 0xdeadbeef marker)."""
    body = bytearray()
    body += struct.pack("<i", 4)                       # version
    body += bytes([layer_geom, 3 if feature_table else 1, 0, 0])
    body += struct.pack("<h", len(fields))
    for f in fields:
        name = f["name"]
        body += bytes([len(name)]) + name.encode("utf-16-le")
        body += bytes([0])                             # no alias
        ft = f["ftype"]
        body += bytes([ft])
        flag = (1 if f["nullable"] else 0) | 4
        if ft == FT_OBJECTID:
            body += bytes([4, 2])
        elif ft == FT_GEOMETRY:
            srs = f.get("srs", _DEF_SRS)
            sb = srs.encode("utf-16-le")
            body += bytes([0, 7])                      # unknown, flags
            body += struct.pack("<h", len(sb)) + sb
            body += bytes([7])                         # z/m flags byte
            body += struct.pack(
                "<10d", f["xorigin"], f["yorigin"], f["xyscale"],
                f.get("morigin", -100000.0), f.get("mscale", 10000.0),
                f.get("zorigin", -100000.0), f.get("zscale", 10000.0),
                0.0, 0.001, 0.0)                       # tolerances
            body += struct.pack("<4d", *f.get(
                "extent", (0.0, 0.0, 0.0, 0.0)))
            body += bytes([0]) + struct.pack("<i", 1)  # 1 grid size
            body += struct.pack("<d", 1.0)
        elif ft == FT_STRING:
            body += struct.pack("<i", f.get("width", 65536))
            body += bytes([flag, 0])                   # zero-len default
        elif ft in (FT_BINARY, FT_RASTER, FT_UUID, FT_GLOBALID, FT_XML):
            body += bytes([f.get("width", 0), flag])
        else:
            widths = {FT_INT16: 2, FT_INT32: 4, FT_FLOAT32: 4,
                      FT_FLOAT64: 8, FT_DATETIME: 8}
            body += bytes([widths[ft], flag, 0])       # zero-len default
        f.setdefault("width", None)
    body += _FIELDS_END
    return struct.pack("<i", len(body)) + bytes(body)


def _write_table_files(gdb: str, tno: int, field_sec: bytes,
                       bodies: list[bytes]) -> None:
    """Assemble a%08x.gdbtable + .gdbtablx from a field section and
    encoded row bodies."""
    rows = bytearray()
    offsets = []
    base = 40 + len(field_sec)
    for b in bodies:
        offsets.append(base + len(rows))
        rows += struct.pack("<i", len(b)) + b
    u3 = max([len(field_sec) - 4] + [len(b) for b in bodies])
    fsize = 40 + len(field_sec) + len(rows)
    hdr = struct.pack("<6i", 3, len(bodies), u3, 5, 0, 0)
    hdr += struct.pack("<q", fsize) + struct.pack("<q", 40)
    with open(os.path.join(gdb, f"a{tno:08x}.gdbtable"), "wb") as fh:
        fh.write(hdr + field_sec + rows)
    _write_tablx(gdb, tno, offsets)


def _write_tablx(gdb: str, tno: int, offsets: list[int]) -> None:
    n = len(offsets)
    n1024 = max(1, -(-n // 1024))
    buf = bytearray(struct.pack("<4i", 3, n1024, n, 5))
    for o in offsets:
        buf += o.to_bytes(5, "little")
    buf += b"\x00" * 5 * (n1024 * 1024 - n)
    buf += _TABLX_TRAILER
    with open(os.path.join(gdb, f"a{tno:08x}.gdbtablx"), "wb") as fh:
        fh.write(buf)


def _catalog_field_sec() -> bytes:
    """GDB_SystemCatalog field section: ID (objectid), Name, FileFormat
    — byte layout mirrored from real gdbs (all NOT NULL, no bitmap)."""
    fields = [{"name": "ID", "ftype": FT_OBJECTID, "nullable": False},
              {"name": "Name", "ftype": FT_STRING, "nullable": False,
               "width": 160},
              {"name": "FileFormat", "ftype": FT_INT32, "nullable": False}]
    body = bytearray()
    body += struct.pack("<i", 4)
    body += bytes([0, 1, 0, 0])                        # plain table
    body += struct.pack("<h", len(fields))
    for f in fields:
        body += bytes([len(f["name"])]) + f["name"].encode("utf-16-le")
        body += bytes([0, f["ftype"]])
        if f["ftype"] == FT_OBJECTID:
            body += bytes([4, 2])
        elif f["ftype"] == FT_STRING:
            body += struct.pack("<i", f["width"]) + bytes([4, 0])
        else:
            body += bytes([4, 4, 0])
    body += _FIELDS_END
    return struct.pack("<i", len(body)) + bytes(body)


def _write_catalog(gdb: str, names: dict[int, str]) -> None:
    """names: 1-based table number -> table name (must include entry 1
    = GDB_SystemCatalog).  Gaps are preserved as deleted rows (tablx
    offset 0) so catalog row id == table file number always holds."""
    bodies = []
    hi = max(names)
    for rid in range(1, hi + 1):
        if rid in names:
            nm = names[rid].encode("utf-8")
            bodies.append(_enc_varuint(len(nm)) + nm
                          + struct.pack("<i", 0))
        else:
            bodies.append(None)
    sec = _catalog_field_sec()
    rows = bytearray()
    offsets = []
    base = 40 + len(sec)
    for b in bodies:
        if b is None:
            offsets.append(0)
            continue
        offsets.append(base + len(rows))
        rows += struct.pack("<i", len(b)) + b
    u3 = max([len(sec) - 4] + [len(b) for b in bodies if b is not None])
    hdr = struct.pack("<6i", 3, sum(b is not None for b in bodies),
                      u3, 5, 0, 0)
    hdr += struct.pack("<q", 40 + len(sec) + len(rows))
    hdr += struct.pack("<q", 40)
    with open(os.path.join(gdb, "a00000001.gdbtable"), "wb") as fh:
        fh.write(hdr + sec + rows)
    _write_tablx(gdb, 1, offsets)


def _layer_geom_byte(rows) -> int:
    """Pick the layer geometry-type byte for a batch of rows.

    An FGDB layer carries ONE geometry type; mixing e.g. Point and
    Polygon rows must be a loud error, not a nondeterministic pick from
    a set (readers key on the layer byte to interpret blobs).  Single-
    vs multi-part variants share a byte (Polygon/MultiPolygon -> 4) and
    are fine together; an all-NULL-geometry layer defaults to Polygon.
    """
    geom_types = {r.get("geom_type") for r in rows} - {None}
    bad = geom_types - set(_LAYER_GEOM)
    if bad:
        raise DriverError(f"unsupported geometry types {sorted(bad)}")
    bytes_ = {_LAYER_GEOM[t] for t in geom_types}
    if len(bytes_) > 1:
        raise DriverError(
            f"mixed geometry types {sorted(geom_types)} in one FGDB "
            f"layer — write homogeneous layers (FGDB layers carry a "
            f"single geometry type)")
    return bytes_.pop() if bytes_ else 4


def _collect_rows(df: DataFrame):
    """DataFrame -> (prop field descriptors, ``drivers.feature_rows``
    rows as a list: a table is assembled whole)."""
    props, rows = feature_rows(df)
    fields = []
    for c, t in props:
        if t not in _SPARK_FT:
            raise DriverError(f"no FGDB mapping for column {c!r} "
                              f"of type {t}")
        fields.append({"name": c, "ftype": _SPARK_FT[t], "nullable": True})
    return fields, list(rows)


def _extent(rows):
    """(xmin, ymin, xmax, ymax) over the rows' own envelopes; None when
    no row has a vertex."""
    boxes = np.asarray([(r["xmin"], r["ymin"], r["xmax"], r["ymax"])
                        for r in rows if r.get("xmin") is not None])
    if not len(boxes):
        return None
    return (*boxes[:, :2].min(0).tolist(), *boxes[:, 2:].max(0).tolist())


def _new_layer_fields(props, rows, srs: str):
    """(layer geometry byte, field descriptors) of a new feature table:
    SHAPE on a grid whose origin covers the rows' extent, OBJECTID,
    then the property fields."""
    ext = _extent(rows) or (0.0, 0.0, 0.0, 0.0)
    gfield = {"name": "SHAPE", "ftype": FT_GEOMETRY, "nullable": True,
              "srs": srs,
              "xorigin": min(-400.0, math.floor(ext[0]) - 1.0),
              "yorigin": min(-400.0, math.floor(ext[1]) - 1.0),
              "xyscale": _DEF_XYSCALE, "extent": ext}
    return _layer_geom_byte(rows), [
        gfield, {"name": "OBJECTID", "ftype": FT_OBJECTID,
                 "nullable": False}] + props


def write_openfilegdb(df: DataFrame, path: str, layer: str = "layer",
                      mode: str = "w", srs: str | None = None,
                      **_opts) -> None:
    """Write/append a ring-model DataFrame as one layer of an ESRI
    File Geodatabase directory (reference `drvsupport.py:47` — GDAL
    ≥3.6 "raw" w/a; format authored from the public FGDB spec,
    github.com/rouault/dump_gdbtable/wiki/FGDB-Spec).

    * ``mode='w'``: creates/overwrites ``path`` as a fresh gdb with a
      real GDB_SystemCatalog (table 1) and this layer as table 2.
      Other GDB_* system tables are not materialized — the catalog is
      what layer resolution needs.
    * ``mode='a'``/``'append'``: appends rows to an EXISTING layer
      (encoding against its stored field descriptors — works on gdbs
      authored elsewhere, e.g. the reference test fixture), or adds a
      NEW layer (next free table number + catalog row) when ``layer``
      is not present.

    Geometry quantizes on the layer grid (write default: origin -400,
    xyscale 1e9 -> < 1e-9 deg round-trip error); Z/M are not written
    (the reader's parse-then-drop convention).  The layer extent in
    the field section is patched on every append.
    """
    if mode in ("a", "append"):
        _append_openfilegdb(df, path, layer)
        return
    if mode != "w":
        raise DriverError(f"unsupported mode {mode!r}")
    props, rows = _collect_rows(df)
    os.makedirs(path, exist_ok=True)
    # refuse to clobber a non-gdb directory that has unrelated content
    existing = [f for f in os.listdir(path) if not f.startswith("a")]
    if existing and not os.path.exists(
            os.path.join(path, "a00000001.gdbtable")):
        raise DriverError(f"{path!r} exists and is not a FileGDB")
    for f in os.listdir(path):
        if f.startswith("a") and (f.endswith(".gdbtable")
                                  or f.endswith(".gdbtablx")):
            os.remove(os.path.join(path, f))

    lg, fields = _new_layer_fields(props, rows, srs or _DEF_SRS)
    sec = _encode_fields(lg, fields, feature_table=True)
    bodies = [_encode_row(r, fields) for r in rows]
    _write_table_files(path, 2, sec, bodies)
    _write_catalog(path, {1: "GDB_SystemCatalog", 2: layer})


def _append_openfilegdb(df: DataFrame, path: str, layer: str) -> None:
    cat = _catalog(path)
    by_name = {n: i for i, n in cat.items()}
    if layer not in by_name:
        # NEW layer in an existing gdb: next free table number
        props, rows = _collect_rows(df)
        tno = max(cat) + 1
        lg, fields = _new_layer_fields(props, rows, _DEF_SRS)
        sec = _encode_fields(lg, fields, feature_table=True)
        _write_table_files(path, tno, sec,
                           [_encode_row(r, fields) for r in rows])
        cat[tno] = layer
        _write_catalog(path, cat)
        return
    # append ROWS to an existing layer, encoding against its stored
    # field descriptors (works on externally-authored gdbs too)
    tno = by_name[layer]
    d = bytearray(_read(path, tno, ".gdbtable"))
    dx = _read(path, tno, ".gdbtablx")
    _lg, fields = _parse_fields(d)
    _props, rows = _collect_rows(df)
    gf = next((f for f in fields if f["ftype"] == FT_GEOMETRY), None)
    bodies = [_encode_row(r, fields) for r in rows]

    n_old = struct.unpack("<i", dx[8:12])[0]
    osz = struct.unpack("<i", dx[12:16])[0]
    offsets = [int.from_bytes(dx[16 + i * osz:16 + (i + 1) * osz],
                              "little") for i in range(n_old)]
    pos = len(d)
    new = bytearray()
    for b in bodies:
        offsets.append(pos + len(new))
        new += struct.pack("<i", len(b)) + b
    # header: valid-row count, max chunk size, file size
    n_valid = struct.unpack("<i", d[4:8])[0] + len(bodies)
    u3 = max([struct.unpack("<i", d[8:12])[0]] + [len(b) for b in bodies])
    struct.pack_into("<i", d, 4, n_valid)
    struct.pack_into("<i", d, 8, u3)
    struct.pack_into("<q", d, 24, len(d) + len(new))
    # patch the layer extent doubles in place (fixed-size section)
    ext = _extent(rows)
    if gf is not None and "_extent_off" in gf and ext is not None:
        eo = gf["_extent_off"]
        cur = struct.unpack_from("<4d", d, eo)
        if cur != (0.0, 0.0, 0.0, 0.0) or n_valid != len(bodies):
            ext = (min(cur[0], ext[0]), min(cur[1], ext[1]),
                   max(cur[2], ext[2]), max(cur[3], ext[3]))
        struct.pack_into("<4d", d, eo, *ext)
    with open(os.path.join(_gdb_dir(path), f"a{tno:08x}.gdbtable"),
              "wb") as fh:
        fh.write(bytes(d) + bytes(new))
    _write_tablx(path, tno, offsets)
