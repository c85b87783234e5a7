"""ESRI Shapefile source/sink — the reference's default driver
(`fiona/drvsupport.py` lists ESRI Shapefile first; `fiona.open`
defaults to it on write) implemented directly on the public file
format (ESRI Shapefile Technical Description, July 1998): no GDAL.

Layout: ``.shp`` holds geometry records (100-byte header with
big-endian file length + little-endian shape type and bbox; each
record a big-endian (number, content-length) prefix plus a
little-endian shape body), ``.dbf`` holds attributes (dBase III:
32-byte field descriptors, fixed-width ASCII records), ``.shx`` is
the record index.  Attribute encoding follows the reference's rule:
UTF-8 if it decodes, else ISO-8859-1 (`sources.drivers.detect_encoding`
mirrors `fiona/ogrext.pyx:940-983`).

Spark shape: the driver slices the ``.shp`` byte stream into
per-record blobs (one pass over the index/record headers — cheap) and
parses the fixed-width ``.dbf`` with numpy; the per-record GEOMETRY
decode runs DISTRIBUTED in one ``mapInPandas`` over the blob column,
like the GeoPackage source.  Single-file formats write driver-side,
encoding ``drivers.feature_rows``.
"""

from __future__ import annotations

import datetime as _dt
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from .. import geom
from ..errors import DriverError
from ..schema import with_ring_columns
from .drivers import atomic_file, feature_rows, ring_schema

SHP_NULL = 0
SHP_POINT = 1
SHP_POLYLINE = 3
SHP_POLYGON = 5
SHP_MULTIPOINT = 8

_TYPE_NAMES = {SHP_NULL: None, SHP_POINT: "Point",
               SHP_POLYLINE: "MultiLineString", SHP_POLYGON: "Polygon",
               SHP_MULTIPOINT: "MultiPoint"}
# Z/M variants share the XY layout prefix; Z/M payloads trail the XYs
# and are dropped (the WKB codec's parse-then-drop convention)
_BASE_OF = {v: v for v in _TYPE_NAMES}
_BASE_OF.update({11: SHP_POINT, 13: SHP_POLYLINE, 15: SHP_POLYGON,
                 18: SHP_MULTIPOINT, 21: SHP_POINT, 23: SHP_POLYLINE,
                 25: SHP_POLYGON, 28: SHP_MULTIPOINT})


def _decode_record(body: bytes):
    """One .shp record body -> (geom_type, rings_xs, rings_ys)."""
    st = struct.unpack("<i", body[:4])[0]
    base = _BASE_OF.get(st)
    if base is None:
        raise DriverError(f"unsupported shape type {st}")
    if base == SHP_NULL:
        return None, None, None
    if base == SHP_POINT:
        x, y = struct.unpack("<2d", body[4:20])
        return "Point", [[x]], [[y]]
    if base == SHP_MULTIPOINT:
        n = struct.unpack("<i", body[36:40])[0]
        pts = np.frombuffer(body, "<f8", 2 * n, 40).reshape(n, 2)
        return "MultiPoint", [pts[:, 0].tolist()], [pts[:, 1].tolist()]
    # polyline / polygon: bbox(32) nparts npoints parts[] points[]
    n_parts, n_pts = struct.unpack("<2i", body[36:44])
    parts = np.frombuffer(body, "<i4", n_parts, 44)
    pts = np.frombuffer(body, "<f8", 2 * n_pts,
                        44 + 4 * n_parts).reshape(n_pts, 2)
    bounds = np.append(parts, n_pts)
    rxs = [pts[bounds[i]:bounds[i + 1], 0].tolist()
           for i in range(n_parts)]
    rys = [pts[bounds[i]:bounds[i + 1], 1].tolist()
           for i in range(n_parts)]
    t = "Polygon" if base == SHP_POLYGON else "MultiLineString"
    return t, rxs, rys


#: dBase field type -> Spark type (N with no decimals: bigint; C and
#: any other: string)
_DBF_TYPES = {"N": T.DoubleType(), "F": T.DoubleType(),
              "L": T.BooleanType(), "D": T.DateType()}


def _read_dbf(path: str, encoding: str | None = None):
    """dBase III attribute table -> (pandas frame, name -> the Spark
    type its field descriptor declares); numpy fixed-width slicing, no
    per-row Python parse."""
    with open(path, "rb") as fh:
        head = fh.read(32)
        n_rec = struct.unpack("<i", head[4:8])[0]
        head_size, rec_size = struct.unpack("<2h", head[8:12])
        fields = []
        while True:
            fd = fh.read(32)
            if fd[0:1] == b"\r" or len(fd) < 32:
                break
            name = fd[:11].split(b"\x00")[0].decode("ascii")
            ftype = fd[11:12].decode("ascii")
            flen = fd[16]
            fdec = fd[17]
            fields.append((name, ftype, flen, fdec))
        fh.seek(head_size)
        raw = fh.read(n_rec * rec_size)
    if encoding is None:
        try:
            raw.decode("utf-8")
            encoding = "utf-8"
        except UnicodeDecodeError:
            encoding = "iso-8859-1"
    arr = np.frombuffer(raw[:n_rec * rec_size],
                        dtype=f"S{rec_size}").view(f"S1").reshape(
        n_rec, rec_size)
    out = {}
    off = 1                                    # deletion flag byte
    for name, ftype, flen, fdec in fields:
        col = arr[:, off:off + flen].view(f"S{flen}").ravel()
        txt = pd.Series(col).str.decode(encoding).str.strip()
        if ftype in ("N", "F"):
            num = pd.to_numeric(txt.replace("", None))
            if ftype == "N" and fdec == 0:
                out[name] = num.astype("Int64")
            else:
                out[name] = num.astype(float)
        elif ftype == "L":
            out[name] = txt.map({"T": True, "Y": True, "t": True,
                                 "F": False, "N": False, "f": False}
                                ).astype(object)
        elif ftype == "D":
            out[name] = pd.to_datetime(txt, format="%Y%m%d",
                                       errors="coerce").dt.date
        else:
            out[name] = txt
        off += flen
    return pd.DataFrame(out), {
        name: T.LongType() if (ftype, fdec) == ("N", 0)
        else _DBF_TYPES.get(ftype, T.StringType())
        for name, ftype, _flen, fdec in fields}


def read_shapefile(spark, path: str, encoding: str | None = None) -> DataFrame:
    """Open ``layer.shp`` (+ sibling ``.dbf``) as a ring-model
    DataFrame: (fid, geom_type, rings_xs, rings_ys, properties...,
    envelope)."""
    base, _ = os.path.splitext(path)
    with open(base + ".shp", "rb") as fh:
        data = fh.read()
    if struct.unpack(">i", data[:4])[0] != 9994:
        raise DriverError(f"{path!r}: bad .shp magic")
    blobs = []
    off = 100
    fid = 0
    while off + 8 <= len(data):
        _num, clen = struct.unpack(">2i", data[off:off + 8])
        body = data[off + 8:off + 8 + 2 * clen]
        blobs.append((fid, bytearray(body)))
        off += 8 + 2 * clen
        fid += 1
    if encoding is None and os.path.exists(base + ".cpg"):
        # the .cpg sidecar declares the dbf codepage (the reference's
        # encoding tests drive behavior through it)
        with open(base + ".cpg") as fh:
            encoding = fh.read().strip() or None
    pdf = pd.DataFrame({"fid": [b[0] for b in blobs],
                        "shp0body": [bytes(b[1]) for b in blobs]})
    fields = {"fid": T.LongType(), "shp0body": T.BinaryType()}
    if os.path.exists(base + ".dbf"):
        props, types = _read_dbf(base + ".dbf", encoding)
        if len(props) == len(pdf):
            pdf = pd.concat([pdf, props], axis=1)
            fields.update(types)
    src = spark.createDataFrame(pdf, T.StructType(
        [T.StructField(n, t) for n, t in fields.items()]))
    del fields["shp0body"]
    out_schema = ring_schema(fields)

    def run(batches):
        for b in batches:
            recs = []
            # to_dict, not itertuples: field names with hyphens or
            # other non-identifier chars (reference gre.shp has
            # 'ISO3166-1') survive only as dict keys
            for d in b.to_dict("records"):
                t, rxs, rys = _decode_record(d.pop("shp0body"))
                d.update(geom_type=t, rings_xs=rxs, rings_ys=rys)
                recs.append(d)
            yield pd.DataFrame(recs)

    out = src.mapInPandas(run, out_schema)
    return with_ring_columns(out)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def _signed_area2(r: np.ndarray) -> float:
    """Twice the shoelace signed area of a closed ring (CCW positive)."""
    x, y = r[:, 0], r[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _orient_esri(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Enforce the ESRI polygon convention — outer rings CLOCKWISE,
    holes COUNTERCLOCKWISE (Shapefile Technical Description p.12).

    Engine-convention rings (union output: outer CCW, holes CW) are
    exactly inverted, so GDAL/fiona would classify shells as holes if
    written as-is.  Nesting depth = number of OTHER rings containing a
    representative vertex; even depth -> shell (signed area must be
    negative / CW), odd -> hole (positive / CCW).
    """
    if len(rings) == 1:
        depth = [0]
    else:
        depth = []
        for i, r in enumerate(rings):
            depth.append(sum(
                1 for j, o in enumerate(rings)
                if j != i and len(o) >= 4 and geom.points_in_rings(
                    r[:1, 0], r[:1, 1], [o[:, 0]], [o[:, 1]])[0]))
    out = []
    for r, d in zip(rings, depth):
        a2 = _signed_area2(r)
        want_cw = (d % 2 == 0)
        if (want_cw and a2 > 0) or (not want_cw and a2 < 0):
            r = r[::-1]
        out.append(r)
    return out


def _encode_record(geom_type, rings_xs, rings_ys) -> bytes:
    if geom_type is None or rings_xs is None:
        return struct.pack("<i", SHP_NULL)
    if geom_type == "Point":
        return struct.pack("<i2d", SHP_POINT,
                           float(rings_xs[0][0]), float(rings_ys[0][0]))
    if geom_type == "MultiPoint":
        xs = np.asarray(rings_xs[0], "<f8")
        ys = np.asarray(rings_ys[0], "<f8")
        pts = np.stack([xs, ys], 1)
        return (struct.pack("<i4d i", SHP_MULTIPOINT,
                            xs.min(), ys.min(), xs.max(), ys.max(),
                            len(xs)) + pts.tobytes())
    st = SHP_POLYGON if geom_type in ("Polygon", "MultiPolygon") \
        else SHP_POLYLINE
    rings = [np.stack([np.asarray(rx, "<f8"), np.asarray(ry, "<f8")], 1)
             for rx, ry in zip(rings_xs, rings_ys)]
    if st == SHP_POLYGON:
        # shapefile rings are explicitly closed
        rings = [np.vstack([r, r[:1]]) if len(r) and
                 (r[0] != r[-1]).any() else r for r in rings]
        rings = _orient_esri(rings)
    allpts = np.vstack(rings) if rings else np.empty((0, 2))
    parts = np.cumsum([0] + [len(r) for r in rings[:-1]]).astype("<i4")
    return (struct.pack("<i4d 2i", st,
                        allpts[:, 0].min(), allpts[:, 1].min(),
                        allpts[:, 0].max(), allpts[:, 1].max(),
                        len(rings), len(allpts))
            + parts.tobytes() + allpts.astype("<f8").tobytes())


def _dbf_value_bytes(v, name: str, ftype: str, flen: int, fdec: int,
                     encoding: str) -> bytes:
    """One attribute value -> fixed-width dbf field bytes (shared by
    the writer and the appender).  Numeric overflow RAISES rather than
    silently truncating digits."""
    if v is None:
        return b" " * flen
    if ftype == "N":
        txt = str(int(v)) if fdec == 0 else f"{float(v):.{fdec}f}"
        if len(txt) > flen:
            # slicing would silently drop trailing digits and
            # corrupt the stored value — refuse instead
            raise DriverError(
                f"value {txt!r} exceeds dbf field width "
                f"{name}:{flen}.{fdec}")
        return txt.rjust(flen).encode(encoding)
    if ftype == "L":
        return b"T" if v else b"F"
    if ftype == "D":
        return v.strftime("%Y%m%d").encode("ascii")
    return str(v).encode(encoding)[:flen].ljust(flen)


def write_shapefile(df: DataFrame, path: str,
                    encoding: str = "utf-8", epsg: int = 4326) -> None:
    """Write ``layer.shp`` / ``.shx`` / ``.dbf`` (+ ``.prj`` / ``.cpg``
    sidecars: CRS WKT and the dbf codepage — the reference writes CRS
    with every collection) from a ring-model DataFrame, encoding
    ``drivers.feature_rows``.

    THROUGHPUT CEILING: a .shp is one file, so encoding is inherently
    driver-serial (~single-core; the reference writes through one GDAL
    handle too).  Streaming bounds driver MEMORY, not wall time — do
    not route a bulk export through this sink; use the partitioned
    parquet / ``sources.iceberg_like`` path and convert per-shard.

    Polygon rings are re-wound to the ESRI convention on write (outer
    CW, holes CCW) so GDAL/fiona readers classify shells correctly.
    """
    base, _ = os.path.splitext(path)
    props, rows = feature_rows(df)
    # dbf descriptors: strings C:80, ints N:18, floats N:20.6, bool L
    descs = []
    for c, t in props:
        if t in ("bigint", "long", "int", "smallint"):
            descs.append((c[:10], "N", 18, 0))
        elif t in ("double", "float"):
            descs.append((c[:10], "N", 20, 6))
        elif t == "boolean":
            descs.append((c[:10], "L", 1, 0))
        elif t == "date":
            descs.append((c[:10], "D", 8, 0))
        else:
            descs.append((c[:10], "C", 80, 0))
    rec_size = 1 + sum(d[2] for d in descs)

    shp_records = []
    dbf_records = []
    gxmin = gymin = np.inf
    gxmax = gymax = -np.inf
    shape_type = SHP_NULL
    for d in rows:
        body = _encode_record(d.get("geom_type"), d.get("rings_xs"),
                              d.get("rings_ys"))
        st = struct.unpack("<i", body[:4])[0]
        if st != SHP_NULL:
            shape_type = st
            gxmin, gymin = min(gxmin, d["xmin"]), min(gymin, d["ymin"])
            gxmax, gymax = max(gxmax, d["xmax"]), max(gymax, d["ymax"])
        shp_records.append(body)
        rec = b" "
        for (name, ftype, flen, fdec), (c, _t) in zip(descs, props):
            rec += _dbf_value_bytes(d.get(c), name, ftype, flen,
                                    fdec, encoding)
        dbf_records.append(rec)

    if not np.isfinite(gxmin):
        gxmin = gymin = gxmax = gymax = 0.0
    # .shp + .shx
    content_words = sum(4 + len(b) // 2 for b in shp_records)
    header = (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, 50 + content_words)
              + struct.pack("<2i4d4d", 1000, shape_type,
                            gxmin, gymin, gxmax, gymax, 0, 0, 0, 0))
    shx_header = (struct.pack(">7i", 9994, 0, 0, 0, 0, 0,
                              50 + 4 * len(shp_records))
                  + header[28:])
    with open(base + ".shp", "wb") as shp, open(base + ".shx", "wb") as shx:
        shp.write(header)
        shx.write(shx_header)
        off_words = 50
        for i, body in enumerate(shp_records):
            shp.write(struct.pack(">2i", i + 1, len(body) // 2) + body)
            shx.write(struct.pack(">2i", off_words, len(body) // 2))
            off_words += 4 + len(body) // 2
    # .dbf
    now = _dt.date(2000, 1, 1)
    head = struct.pack("<B3Bihh20x", 0x03, now.year - 1900, now.month,
                       now.day, len(dbf_records),
                       33 + 32 * len(descs), rec_size)
    with open(base + ".dbf", "wb") as dbf:
        dbf.write(head)
        for name, ftype, flen, fdec in descs:
            dbf.write(name.encode("ascii").ljust(11, b"\x00")
                      + ftype.encode("ascii") + b"\x00" * 4
                      + bytes([flen, fdec]) + b"\x00" * 14)
        dbf.write(b"\r")
        for rec in dbf_records:
            dbf.write(rec)
        dbf.write(b"\x1a")
    from ..crs import CRS
    with open(base + ".prj", "w") as prj:
        prj.write(CRS.from_epsg(epsg).to_wkt())
    with open(base + ".cpg", "w") as cpg:
        cpg.write(encoding.upper())


def append_shapefile(df: DataFrame, path: str,
                     encoding: str | None = None) -> None:
    """Append rows to an EXISTING shapefile in place — the reference's
    ``fiona.open(..., 'a')`` on an ESRI Shapefile ("raw" capability,
    `fiona/drvsupport.py:53`).

    Extends ``.shp``/``.shx``/``.dbf`` without rewriting existing
    records: new geometry records continue the 1-based record
    numbering, the ``.shx`` index grows in step, the headers' file
    lengths and global bbox are patched, and the dbf record count is
    updated (records insert before the 0x1A terminator).  Appended
    attribute values are formatted against the EXISTING field
    descriptors; geometry must match the file's base shape type
    (nulls always allowed).  Same driver-serial throughput ceiling as
    :func:`write_shapefile`.
    """
    base, _ = os.path.splitext(path)
    if not os.path.exists(base + ".shp"):
        raise DriverError(f"cannot append: no shapefile at {path!r}")
    with open(base + ".shp", "rb") as fh:
        shp = bytearray(fh.read())
    with open(base + ".shx", "rb") as fh:
        shx = bytearray(fh.read())
    with open(base + ".dbf", "rb") as fh:
        dbf = bytearray(fh.read())
    if encoding is None:
        if os.path.exists(base + ".cpg"):
            with open(base + ".cpg") as fh:
                encoding = fh.read().strip() or "utf-8"
        else:
            encoding = "utf-8"

    # existing state: shape type + bbox from the .shp header, record
    # count from the .shx length, field descriptors from the .dbf
    shape_type = struct.unpack("<i", shp[32:36])[0]
    gxmin, gymin, gxmax, gymax = struct.unpack("<4d", shp[36:68])
    n_existing = (len(shx) - 100) // 8
    descs = []
    off = 32
    while off < len(dbf) and dbf[off] != 0x0D:
        fd = dbf[off:off + 32]
        descs.append((fd[:11].split(b"\x00")[0].decode("ascii"),
                      fd[11:12].decode("ascii"), fd[16], fd[17]))
        off += 32
    n_rec_old = struct.unpack("<i", bytes(dbf[4:8]))[0]
    if dbf and dbf[-1] == 0x1A:                 # strip the terminator
        del dbf[-1]

    _props, rows = feature_rows(df)
    new_shp = bytearray()
    new_shx = bytearray()
    new_dbf = bytearray()
    off_words = len(shp) // 2
    rec_no = n_existing
    n_new = 0
    base_existing = _BASE_OF.get(shape_type, shape_type)
    for d in rows:
        body = _encode_record(d.get("geom_type"), d.get("rings_xs"),
                              d.get("rings_ys"))
        st = struct.unpack("<i", body[:4])[0]
        if st != SHP_NULL:
            if shape_type == SHP_NULL:
                shape_type = st
                base_existing = _BASE_OF.get(st, st)
            elif _BASE_OF.get(st, st) != base_existing:
                raise DriverError(
                    f"append geometry type {st} incompatible with "
                    f"existing shape type {shape_type}")
            gxmin, gymin = min(gxmin, d["xmin"]), min(gymin, d["ymin"])
            gxmax, gymax = max(gxmax, d["xmax"]), max(gymax, d["ymax"])
        rec_no += 1
        n_new += 1
        new_shp += struct.pack(">2i", rec_no, len(body) // 2) + body
        new_shx += struct.pack(">2i", off_words, len(body) // 2)
        off_words += 4 + len(body) // 2
        rec = b" "
        for name, ftype, flen, fdec in descs:
            rec += _dbf_value_bytes(d.get(name), name, ftype, flen,
                                    fdec, encoding)
        new_dbf += rec

    # patch headers: big-endian 16-bit-word file lengths + bbox
    shp += new_shp
    shx += new_shx
    shp[24:28] = struct.pack(">i", len(shp) // 2)
    shx[24:28] = struct.pack(">i", len(shx) // 2)
    for buf in (shp, shx):
        buf[36:68] = struct.pack("<4d", gxmin, gymin, gxmax, gymax)
        buf[32:36] = struct.pack("<i", shape_type)
    dbf[4:8] = struct.pack("<i", n_rec_old + n_new)
    dbf += new_dbf + b"\x1a"
    for suffix, buf in ((".shp", shp), (".shx", shx), (".dbf", dbf)):
        with atomic_file(base + suffix) as tmp, open(tmp, "wb") as fh:
            fh.write(buf)
