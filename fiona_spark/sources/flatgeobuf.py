"""FlatGeobuf source/sink — reference parity for the FlatGeobuf driver
(`fiona/drvsupport.py:55` registers it "raw"), implemented directly on
the public spec (https://flatgeobuf.org, flatbuffers wire format +
packed Hilbert R-tree): no GDAL, no flatbuffers library.

Layout: 8-byte magic ``fgb\\x03fgb\\x00``, a size-prefixed flatbuffers
``Header`` table (name, geometry type, column descriptors, feature
count, index node size), an optional packed Hilbert R-tree index
(40-byte nodes, skipped on read — Spark scans are full-table), then
size-prefixed ``Feature`` tables each holding a ``Geometry`` (``ends``
+ ``xy`` coordinate vectors, nested ``parts`` for MultiPolygon) and a
``properties`` byte blob (u16 column index + native-endian values).

The flatbuffers subset needed (root offset, vtable field lookup,
scalars/strings/vectors/tables) is ~60 lines to read and a small
prepend-builder to write; field slots below follow the spec's
header.fbs / feature.fbs tables.

Spark shape: the driver slices the byte stream into per-feature blobs
(cheap — size prefixes only); GEOMETRY + PROPERTY decode runs
DISTRIBUTED in one ``mapInPandas`` over the blob column, the same
convention as the shapefile/GeoPackage sources.  The writer encodes
``drivers.feature_rows`` driver-serially into one file — same
throughput ceiling as every single-file sink; bulk exports belong in
parquet.
"""

from __future__ import annotations

import os
import struct
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..errors import DriverError
from ..schema import with_ring_columns
from .drivers import atomic_file, feature_rows, ring_schema

MAGIC = b"fgb\x03fgb\x00"

# GeometryType enum (spec header.fbs)
GT_UNKNOWN, GT_POINT, GT_LINESTRING, GT_POLYGON = 0, 1, 2, 3
GT_MULTIPOINT, GT_MULTILINESTRING, GT_MULTIPOLYGON = 4, 5, 6
_GT_NAME = {GT_POINT: "Point", GT_LINESTRING: "LineString",
            GT_POLYGON: "Polygon", GT_MULTIPOINT: "MultiPoint",
            GT_MULTILINESTRING: "MultiLineString",
            GT_MULTIPOLYGON: "MultiPolygon"}
_GT_CODE = {v: k for k, v in _GT_NAME.items()}

# ColumnType enum (spec header.fbs)
CT_BYTE, CT_UBYTE, CT_BOOL, CT_SHORT, CT_USHORT = 0, 1, 2, 3, 4
CT_INT, CT_UINT, CT_LONG, CT_ULONG, CT_FLOAT, CT_DOUBLE = 5, 6, 7, 8, 9, 10
CT_STRING, CT_JSON, CT_DATETIME, CT_BINARY = 11, 12, 13, 14

_CT_STRUCT = {CT_BYTE: "<b", CT_UBYTE: "<B", CT_BOOL: "<B",
              CT_SHORT: "<h", CT_USHORT: "<H", CT_INT: "<i",
              CT_UINT: "<I", CT_LONG: "<q", CT_ULONG: "<Q",
              CT_FLOAT: "<f", CT_DOUBLE: "<d"}
_I, _L, _S = T.IntegerType(), T.LongType(), T.StringType()
_CT_SPARK = {CT_BYTE: _I, CT_UBYTE: _I, CT_BOOL: T.BooleanType(),
             CT_SHORT: _I, CT_USHORT: _I, CT_INT: _I,
             CT_UINT: _L, CT_LONG: _L, CT_ULONG: _L,
             CT_FLOAT: T.FloatType(), CT_DOUBLE: T.DoubleType(),
             CT_STRING: _S, CT_JSON: _S, CT_DATETIME: _S,
             CT_BINARY: T.BinaryType()}
_SPARK_CT = {"string": CT_STRING, "long": CT_LONG, "bigint": CT_LONG,
             "int": CT_INT, "smallint": CT_SHORT, "tinyint": CT_BYTE,
             "double": CT_DOUBLE, "float": CT_FLOAT,
             "boolean": CT_BOOL, "binary": CT_BINARY}


# ---------------------------------------------------------------------------
# flatbuffers: minimal reader
# ---------------------------------------------------------------------------

def _u16(b, p):
    return struct.unpack_from("<H", b, p)[0]


def _u32(b, p):
    return struct.unpack_from("<I", b, p)[0]


def _root(b, p=0):
    return p + _u32(b, p)


def _field_pos(b, tpos, slot):
    """Absolute position of a table field, or 0 when absent."""
    vt = tpos - struct.unpack_from("<i", b, tpos)[0]
    rel = 4 + 2 * slot
    if rel >= _u16(b, vt):
        return 0
    fo = _u16(b, vt + rel)
    return tpos + fo if fo else 0


def _scalar(b, tpos, slot, fmt, default=0):
    p = _field_pos(b, tpos, slot)
    return struct.unpack_from(fmt, b, p)[0] if p else default


def _string(b, tpos, slot):
    p = _field_pos(b, tpos, slot)
    if not p:
        return None
    sp = p + _u32(b, p)
    n = _u32(b, sp)
    return b[sp + 4:sp + 4 + n].decode("utf-8")


def _vector(b, tpos, slot, dtype):
    """Numeric vector field -> numpy array (empty when absent)."""
    p = _field_pos(b, tpos, slot)
    if not p:
        return np.empty(0, dtype)
    vp = p + _u32(b, p)
    n = _u32(b, vp)
    return np.frombuffer(b, dtype, n, vp + 4)


def _table_vector(b, tpos, slot):
    """Vector-of-tables field -> list of absolute table positions."""
    p = _field_pos(b, tpos, slot)
    if not p:
        return []
    vp = p + _u32(b, p)
    n = _u32(b, vp)
    return [vp + 4 + 4 * i + _u32(b, vp + 4 + 4 * i) for i in range(n)]


def _bytes_field(b, tpos, slot):
    p = _field_pos(b, tpos, slot)
    if not p:
        return b""
    vp = p + _u32(b, p)
    n = _u32(b, vp)
    return bytes(b[vp + 4:vp + 4 + n])


# ---------------------------------------------------------------------------
# flatbuffers: minimal prepend-builder (offsets = distance from END;
# they never move as the buffer grows at the front)
# ---------------------------------------------------------------------------

class _Builder:
    """Grow-at-the-front byte builder.  All recorded offsets are
    distances from the buffer END, so they stay valid as new bytes are
    prepended; a u32 reference at distance-from-end ``dL`` pointing at
    an object at ``dO`` stores ``dL - dO`` (the spec's forward
    relative offset).  Alignment is enforced on distance-from-end and
    the finished buffer is padded to ``maxalign``, which makes every
    object's absolute position aligned too."""

    def __init__(self):
        self.buf = bytearray()
        self.maxalign = 4

    def _pad_to(self, size: int, tail: int = 0) -> None:
        """Pad the front until (len + tail) is a multiple of size."""
        self.maxalign = max(self.maxalign, size)
        while (len(self.buf) + tail) % size:
            self.buf[0:0] = b"\x00"

    def string(self, s: str) -> int:
        data = s.encode("utf-8") + b"\x00"
        # count u32 sits immediately before the bytes: pad first so
        # the count lands 4-aligned with no gap
        self._pad_to(4, len(data))
        self.buf[0:0] = data
        self.buf[0:0] = struct.pack("<I", len(data) - 1)
        return len(self.buf)

    def vector_bytes(self, data: bytes) -> int:
        self._pad_to(4, len(data))
        self.buf[0:0] = bytes(data)
        self.buf[0:0] = struct.pack("<I", len(data))
        return len(self.buf)

    def vector_numeric(self, arr: np.ndarray) -> int:
        elem = arr.dtype.itemsize
        self._pad_to(elem)                 # element data elem-aligned
        self.buf[0:0] = arr.tobytes()
        self.buf[0:0] = struct.pack("<I", len(arr))
        return len(self.buf)

    def vector_offsets(self, offs: list[int]) -> int:
        # u32 relative offsets, written back-to-front so each slot's
        # distance-from-end is known at pack time
        self._pad_to(4)
        for d in reversed(offs):
            loc = len(self.buf) + 4
            self.buf[0:0] = struct.pack("<I", loc - d)
        self.buf[0:0] = struct.pack("<I", len(offs))
        return len(self.buf)

    def table(self, fields: list) -> int:
        """fields: (slot, kind, value) with kind a scalar struct fmt
        ('<b'..'<Q','<f','<d') or 'uoffset' (value = builder offset).
        Every provided field is written explicitly (no default
        elision) — readers then never fall back to spec defaults like
        index_node_size=16."""
        offsets: dict[int, int] = {}
        sizes: dict[int, int] = {}
        # narrow fields first => they land at the table's end; each
        # field is size-aligned by padding
        def width(f):
            return 4 if f[1] == "uoffset" else struct.calcsize(f[1])
        for slot, kind, v in sorted(fields, key=width):
            if kind == "uoffset":
                self._pad_to(4)
                loc = len(self.buf) + 4
                self.buf[0:0] = struct.pack("<I", loc - v)
                sizes[slot] = 4
            else:
                self._pad_to(struct.calcsize(kind))
                self.buf[0:0] = struct.pack(kind, v)
                sizes[slot] = struct.calcsize(kind)
            offsets[slot] = len(self.buf)
        self._pad_to(4)
        self.buf[0:0] = b"\x00\x00\x00\x00"          # soffset placeholder
        d_table = len(self.buf)
        n_slots = (max(offsets) + 1) if offsets else 0
        slots = [(d_table - offsets[s]) if s in offsets else 0
                 for s in range(n_slots)]
        tbl_size = max([4] + [d_table - offsets[s] + sizes[s]
                              for s in offsets])
        vtable = struct.pack(f"<{2 + n_slots}H", 4 + 2 * n_slots,
                             tbl_size, *slots)
        self.buf[0:0] = vtable
        d_vt = len(self.buf)
        # patch the soffset: vtable_pos = table_pos - soffset
        front = len(self.buf) - d_table
        self.buf[front:front + 4] = struct.pack("<i", d_vt - d_table)
        return d_table

    def finish_size_prefixed(self, root: int) -> bytes:
        self._pad_to(self.maxalign, 4)
        self.buf[0:0] = struct.pack("<I", len(self.buf) + 4 - root)
        return struct.pack("<I", len(self.buf)) + bytes(self.buf)


# ---------------------------------------------------------------------------
# packed Hilbert R-tree (spec packedrtree: 40-byte nodes
# (minx,miny,maxx,maxy:f8, offset:u8), levels laid out ROOT-FIRST,
# leaves last; leaf offset = feature byte offset into the features
# section, internal offset = node index of the first child)
# ---------------------------------------------------------------------------

_NODE_DT = np.dtype([("minx", "<f8"), ("miny", "<f8"),
                     ("maxx", "<f8"), ("maxy", "<f8"), ("off", "<u8")])


def _hilbert_xy2d(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized Hilbert distance on the 2^16 grid (classic xy2d
    square-rotation recurrence).  Any valid Hilbert order satisfies the
    spec — readers rely only on parent-covers-children bboxes; the
    order just gives the tree its locality."""
    x = x.astype(np.uint32).copy()
    y = y.astype(np.uint32).copy()
    d = np.zeros(x.shape, np.uint64)
    s = 1 << 15
    while s > 0:
        rx = ((x & s) > 0).astype(np.uint32)
        ry = ((y & s) > 0).astype(np.uint32)
        d += np.uint64(s) * np.uint64(s) * ((3 * rx) ^ ry)
        # rotate quadrant: ry==0 -> (reflect if rx==1, then swap axes)
        swap = ry == 0
        refl = swap & (rx == 1)
        xr = np.where(refl, s - 1 - x, x)
        yr = np.where(refl, s - 1 - y, y)
        x = np.where(swap, yr, xr)
        y = np.where(swap, xr, yr)
        s >>= 1
    return d


def _hilbert_order(boxes: np.ndarray) -> np.ndarray:
    """Sort permutation of feature bboxes (n,4) by the Hilbert code of
    their centers over the collection extent."""
    cx = (boxes[:, 0] + boxes[:, 2]) * 0.5
    cy = (boxes[:, 1] + boxes[:, 3]) * 0.5
    ext_w = max(float(boxes[:, 2].max() - boxes[:, 0].min()), 1e-300)
    ext_h = max(float(boxes[:, 3].max() - boxes[:, 1].min()), 1e-300)
    gx = np.clip((cx - boxes[:, 0].min()) / ext_w * 65535.0,
                 0, 65535).astype(np.uint32)
    gy = np.clip((cy - boxes[:, 1].min()) / ext_h * 65535.0,
                 0, 65535).astype(np.uint32)
    return np.argsort(_hilbert_xy2d(gx, gy), kind="stable")


def _level_num_nodes(n_items: int, node_size: int) -> list[int]:
    """Node counts per level, BOTTOM-UP (leaves first), ending at the
    single root — the spec's generateLevelBounds recurrence."""
    if n_items < 1:
        # ceil(0/s) never reaches 1 — the recurrence below would spin
        # forever.  Callers guard n==0 (empty files are unindexed).
        raise ValueError("packed R-tree needs n_items >= 1")
    lvls = [n_items]
    while True:                  # do-while like _index_size: a 1-item
        nxt = (lvls[-1] + node_size - 1) // node_size
        lvls.append(nxt)         # tree still gets its own root level
        if nxt == 1:
            break
    return lvls


def _level_bounds(n_items: int, node_size: int) -> list[tuple[int, int]]:
    """[(start, end)) node-index range per level, bottom-up, in the
    root-first node layout."""
    lvls = _level_num_nodes(n_items, node_size)
    total = sum(lvls)
    out = []
    pos = total
    for n in lvls:
        out.append((pos - n, pos))
        pos -= n
    return out


def _build_index(boxes: np.ndarray, feat_offsets: np.ndarray,
                 node_size: int) -> np.ndarray:
    """Packed Hilbert R-tree nodes from HILBERT-SORTED feature bboxes
    (n,4) and their byte offsets into the features section."""
    n = len(boxes)
    bounds = _level_bounds(n, node_size)
    nodes = np.zeros(bounds[0][1], _NODE_DT)
    ls, le = bounds[0]
    nodes["minx"][ls:le] = boxes[:, 0]
    nodes["miny"][ls:le] = boxes[:, 1]
    nodes["maxx"][ls:le] = boxes[:, 2]
    nodes["maxy"][ls:le] = boxes[:, 3]
    nodes["off"][ls:le] = feat_offsets
    for lvl in range(len(bounds) - 1):
        cs, ce = bounds[lvl]
        ps, _pe = bounds[lvl + 1]
        for j in range(ps, bounds[lvl + 1][1]):
            c0 = cs + (j - ps) * node_size
            c1 = min(c0 + node_size, ce)
            nodes["minx"][j] = nodes["minx"][c0:c1].min()
            nodes["miny"][j] = nodes["miny"][c0:c1].min()
            nodes["maxx"][j] = nodes["maxx"][c0:c1].max()
            nodes["maxy"][j] = nodes["maxy"][c0:c1].max()
            nodes["off"][j] = c0
    return nodes


def _search_index(nodes: np.ndarray, n_items: int, node_size: int,
                  bbox) -> list[tuple[int, int]]:
    """(feature byte offset, file-order feature index) for every leaf
    bbox intersecting ``bbox`` — the spec's streamSearch over the
    in-memory node array.  Leaf bboxes are exact feature envelopes, so
    no post-filter is needed."""
    xmin, ymin, xmax, ymax = bbox
    bounds = _level_bounds(n_items, node_size)
    leaf_start = bounds[0][0]
    out = []
    queue = [(0, len(bounds) - 1)]
    while queue:
        idx, lvl = queue.pop()
        end = min(idx + node_size, bounds[lvl][1])
        hit = np.flatnonzero(
            (nodes["minx"][idx:end] <= xmax)
            & (nodes["maxx"][idx:end] >= xmin)
            & (nodes["miny"][idx:end] <= ymax)
            & (nodes["maxy"][idx:end] >= ymin)) + idx
        for pos in hit:
            if idx >= leaf_start:
                out.append((int(nodes["off"][pos]), int(pos - leaf_start)))
            else:
                queue.append((int(nodes["off"][pos]), lvl - 1))
    return sorted(out)


# ---------------------------------------------------------------------------
# header / feature codecs
# ---------------------------------------------------------------------------

def _index_size(n_features: int, node_size: int) -> int:
    """Packed Hilbert R-tree byte size (spec packedrtree: 40-byte
    nodes, levels ceil-divided by node_size up to the root)."""
    if n_features == 0 or node_size == 0:
        return 0
    s = max(int(node_size), 2)
    total = m = n_features
    while True:                 # do-while (spec packedrtree): a
        m = (m + s - 1) // s    # 1-item tree still has a root level
        total += m
        if m == 1:
            break
    return total * 40


def _parse_header(buf: bytes):
    """-> (name, geometry_type, columns[(name, ct)], n_features,
    node_size, body_offset)."""
    if buf[:8] != MAGIC:
        raise DriverError("not a FlatGeobuf file (bad magic)")
    hsize = _u32(buf, 8)
    h = _root(buf, 12)
    name = _string(buf, h, 0)
    geometry_type = _scalar(buf, h, 2, "<B", GT_UNKNOWN)
    cols = []
    for cpos in _table_vector(buf, h, 7):
        cols.append((_string(buf, cpos, 0),
                     _scalar(buf, cpos, 1, "<B", CT_STRING)))
    n_features = _scalar(buf, h, 8, "<Q", 0)
    node_size = _scalar(buf, h, 9, "<H", 16)
    body = 12 + hsize + _index_size(n_features, node_size)
    return name, geometry_type, cols, n_features, node_size, body


def _decode_geometry(buf: bytes, gpos: int, gt_default: int):
    """Geometry table -> (geom_type, rings_xs, rings_ys)."""
    gt = _scalar(buf, gpos, 6, "<B", GT_UNKNOWN) or gt_default
    if gt == GT_MULTIPOLYGON:
        rxs, rys = [], []
        for part in _table_vector(buf, gpos, 7):
            _t, px, py = _decode_geometry(buf, part, GT_POLYGON)
            rxs.extend(px)
            rys.extend(py)
        return "MultiPolygon", rxs, rys
    xy = _vector(buf, gpos, 1, "<f8")
    if not len(xy):
        return None, None, None
    xs, ys = xy[0::2], xy[1::2]
    if gt == GT_POINT:
        return "Point", [[float(xs[0])]], [[float(ys[0])]]
    if gt in (GT_LINESTRING, GT_MULTIPOINT):
        return (_GT_NAME[gt], [xs.tolist()], [ys.tolist()])
    ends = _vector(buf, gpos, 0, "<u4")
    if not len(ends):
        ends = np.array([len(xs)], "<u4")
    bounds = np.concatenate([[0], ends])
    rxs = [xs[bounds[i]:bounds[i + 1]].tolist() for i in range(len(ends))]
    rys = [ys[bounds[i]:bounds[i + 1]].tolist() for i in range(len(ends))]
    name = _GT_NAME.get(gt, "MultiLineString")
    return name, rxs, rys


def _decode_properties(blob: bytes, cols: list) -> dict:
    out = {}
    p = 0
    n = len(blob)
    while p + 2 <= n:
        ci = struct.unpack_from("<H", blob, p)[0]
        p += 2
        cname, ct = cols[ci]
        if ct in _CT_STRUCT:
            fmt = _CT_STRUCT[ct]
            v = struct.unpack_from(fmt, blob, p)[0]
            p += struct.calcsize(fmt)
            if ct == CT_BOOL:
                v = bool(v)
        else:                                   # string-ish / binary
            ln = struct.unpack_from("<I", blob, p)[0]
            p += 4
            raw = blob[p:p + ln]
            p += ln
            v = raw if ct == CT_BINARY else raw.decode("utf-8")
        out[cname] = v
    return out


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

def read_flatgeobuf(spark, path: str, bbox=None) -> DataFrame:
    """Open a .fgb as a ring-model DataFrame: (fid, properties...,
    geom_type, rings_xs, rings_ys, xs, ys, envelope).

    The driver pass reads only size prefixes (no feature decode); the
    per-feature flatbuffers GEOMETRY + PROPERTY decode runs distributed
    in one ``mapInPandas`` over the blob column.

    ``bbox=(xmin, ymin, xmax, ymax)`` prunes BEFORE Spark sees the
    data: with a packed Hilbert R-tree present (write with
    ``index_node_size > 0``) only intersecting features are sliced
    from the file — the format's cloud-native selective-read path —
    and leaf bboxes are exact feature envelopes, so no post-filter
    runs.  Without an index the bbox falls back to a post-decode
    envelope filter (same result, full scan).  ``fid`` is the file
    position either way.
    """
    with open(path, "rb") as fh:
        data = fh.read()
    name, gt_default, cols, n_features, node_size, off = _parse_header(data)
    fids = None
    if bbox is not None and node_size > 0 and n_features > 0:
        hsize = _u32(data, 8)
        idx_bytes = _index_size(n_features, node_size)
        nodes = np.frombuffer(data, _NODE_DT, idx_bytes // 40, 12 + hsize)
        hits = _search_index(nodes, n_features, node_size, bbox)
        blobs, fids = [], []
        for foff, fidx in hits:
            p = off + foff
            blobs.append(data[p:p + 4 + _u32(data, p)])
            fids.append(fidx)
    else:
        blobs = []
        while off + 4 <= len(data):
            fsize = _u32(data, off)
            blobs.append(data[off:off + 4 + fsize])
            off += 4 + fsize
        if n_features and len(blobs) != n_features:
            raise DriverError(
                f"{path!r}: header claims {n_features} features, "
                f"found {len(blobs)}")
    pdf = pd.DataFrame({"fid": (np.asarray(fids, dtype=np.int64)
                                if fids is not None
                                else np.arange(len(blobs),
                                               dtype=np.int64)),
                        "fgb0body": blobs})
    # explicit schema: inference fails on an empty (0-feature) file
    src = spark.createDataFrame(pdf, schema="fid long, fgb0body binary")
    out_schema = ring_schema(
        {"fid": T.LongType(), **{c: _CT_SPARK[ct] for c, ct in cols}})
    col_names = [c for c, _t in cols]

    def run(batches):
        for b in batches:
            recs = []
            for d in b.to_dict("records"):
                blob = d.pop("fgb0body")
                f = _root(blob, 4)
                gp = _field_pos(blob, f, 0)
                if gp:
                    gpos = gp + _u32(blob, gp)
                    t, rxs, rys = _decode_geometry(blob, gpos, gt_default)
                else:
                    t, rxs, rys = None, None, None
                props = _decode_properties(_bytes_field(blob, f, 1), cols)
                rec = {"fid": d["fid"]}
                for cname in col_names:
                    rec[cname] = props.get(cname)
                rec.update(geom_type=t, rings_xs=rxs, rings_ys=rys)
                recs.append(rec)
            yield pd.DataFrame(recs)

    out = with_ring_columns(src.mapInPandas(run, out_schema))
    if bbox is not None and fids is None:
        # no index in the file: same bbox semantics via a post-decode
        # envelope-intersects filter
        out = out.filter((F.col("xmin") <= bbox[2])
                         & (F.col("xmax") >= bbox[0])
                         & (F.col("ymin") <= bbox[3])
                         & (F.col("ymax") >= bbox[1]))
    return out


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def _encode_geometry(bld: _Builder, gt: str, rxs, rys) -> int:
    code = _GT_CODE.get(gt)
    if code is None:
        raise DriverError(f"cannot encode geometry type {gt!r} as "
                          "FlatGeobuf")
    if code == GT_MULTIPOLYGON:
        # parts reconstructed from ring nesting, like the XML sinks
        from .. import model
        g = model.geometry_from_rings("MultiPolygon", rxs, rys)
        parts = []
        for part in g["coordinates"]:
            pxs = [[p[0] for p in ring] for ring in part]
            pys = [[p[1] for p in ring] for ring in part]
            parts.append(_encode_geometry(bld, "Polygon", pxs, pys))
        vec = bld.vector_offsets(parts)
        return bld.table([(6, "<B", code), (7, "uoffset", vec)])
    xy = np.empty(2 * sum(len(r) for r in rxs), "<f8")
    xy[0::2] = np.concatenate([np.asarray(r, "<f8") for r in rxs])
    xy[1::2] = np.concatenate([np.asarray(r, "<f8") for r in rys])
    fields = [(6, "<B", code)]
    if code in (GT_POLYGON, GT_MULTILINESTRING) and len(rxs) > 1:
        ends = np.cumsum([len(r) for r in rxs]).astype("<u4")
        fields.append((0, "uoffset", bld.vector_numeric(ends)))
    fields.append((1, "uoffset", bld.vector_numeric(xy)))
    return bld.table(fields)


def _encode_feature(d: dict, cols: list):
    """One ``feature_rows`` row -> (size-prefixed Feature blob, its
    ``xmin, ymin, xmax, ymax`` | None)."""
    gt, rxs, rys = d.get("geom_type"), d.get("rings_xs"), d.get("rings_ys")
    fb = _Builder()
    prop_blob = bytearray()
    for ci, (cname, ct) in enumerate(cols):
        v = d.get(cname)
        if v is None:
            continue
        prop_blob += struct.pack("<H", ci)
        if ct in _CT_STRUCT:
            prop_blob += struct.pack(_CT_STRUCT[ct], v)
        else:
            raw = v if isinstance(v, (bytes, bytearray)) \
                else str(v).encode("utf-8")
            prop_blob += struct.pack("<I", len(raw)) + bytes(raw)
    ffields = []
    bbox = None
    if gt is not None and rxs:
        ffields.append((0, "uoffset", _encode_geometry(fb, gt, rxs, rys)))
        if d["xmin"] is not None:
            bbox = (d["xmin"], d["ymin"], d["xmax"], d["ymax"])
    if prop_blob:
        ffields.append((1, "uoffset", fb.vector_bytes(bytes(prop_blob))))
    return fb.finish_size_prefixed(fb.table(ffields)), bbox


def _encode_header(name: str, gt_code: int, cols: list,
                   features_count: int, index_node_size: int,
                   envelope=None) -> bytes:
    hb = _Builder()
    col_offs = []
    for cname, ct in cols:
        s = hb.string(cname)
        col_offs.append(hb.table([(0, "uoffset", s), (1, "<B", ct)]))
    cvec = hb.vector_offsets(col_offs) if col_offs else None
    env = (hb.vector_numeric(np.asarray(envelope, "<f8"))
           if envelope is not None else None)
    nm = hb.string(name)
    hfields = [(0, "uoffset", nm), (2, "<B", gt_code),
               (8, "<Q", features_count), (9, "<H", index_node_size)]
    if cvec is not None:
        hfields.append((7, "uoffset", cvec))
    if env is not None:
        hfields.append((1, "uoffset", env))
    return hb.finish_size_prefixed(hb.table(hfields))


def write_flatgeobuf(df: DataFrame, path: str, name: str = "layer",
                     geometry_type: str | None = None,
                     index_node_size: int = 0) -> None:
    """Single-file FlatGeobuf sink (reference capability "raw"; the
    engine supports r/w — append would require index rebuild).

    ``index_node_size=0`` (default) writes an UNINDEXED .fgb in input
    row order (allowed by the spec and what streaming writers emit) —
    bit-exact, order-preserving.  ``index_node_size>0`` builds the
    spec's packed Hilbert R-tree: features are HILBERT-SORTED by bbox
    center (read order changes), the header carries the envelope +
    feature count, and ``read_flatgeobuf(..., bbox=...)`` then slices
    only intersecting features without scanning (null-geometry
    features index at the envelope's min corner and never match bbox
    queries narrower than it).

    Encodes ``drivers.feature_rows`` into ``drivers.atomic_file``
    (features spool to an anonymous temp file before assembly in the
    indexed mode) — driver-serial single-file encode; bulk exports
    belong in parquet.  Coordinates are raw ``<f8`` copies (bit-exact
    round-trip).
    """
    props, rows = feature_rows(df)
    cols = []
    for c, t in props:
        if t not in _SPARK_CT:
            raise DriverError(
                f"column {c!r}: no FlatGeobuf type for {t!r}")
        cols.append((c, _SPARK_CT[t]))
    gt_code = _GT_CODE.get(geometry_type, GT_UNKNOWN)
    empty = MAGIC + _encode_header(name, gt_code, cols, 0, 0)

    if index_node_size == 0:
        with atomic_file(path) as tmp, open(tmp, "wb") as fh:
            fh.write(empty)
            for d in rows:
                fh.write(_encode_feature(d, cols)[0])
        return

    # indexed mode: spool feature blobs, then assemble hilbert-sorted
    with tempfile.TemporaryFile(
            dir=os.path.dirname(os.path.abspath(path))) as sf, \
            atomic_file(path) as tmp, open(tmp, "wb") as fh:
        sizes, boxes = [], []
        for d in rows:
            blob, bbox = _encode_feature(d, cols)
            sf.write(blob)
            sizes.append(len(blob))
            boxes.append(bbox if bbox is not None else (np.nan,) * 4)
        n = len(sizes)
        if n == 0:
            # empty dataset: an R-tree over zero items is meaningless
            # (and _hilbert_order/_level_num_nodes assume n >= 1) — emit
            # the canonical empty unindexed file (features_count=0,
            # index_node_size=0), which the reader already handles.
            fh.write(empty)
            return
        sizes = np.asarray(sizes, np.int64)
        boxes = np.asarray(boxes, np.float64).reshape(n, 4)
        has_geom = ~np.isnan(boxes[:, 0])
        if has_geom.any():
            envelope = (float(np.nanmin(boxes[:, 0])),
                        float(np.nanmin(boxes[:, 1])),
                        float(np.nanmax(boxes[:, 2])),
                        float(np.nanmax(boxes[:, 3])))
        else:
            envelope = (0.0, 0.0, 0.0, 0.0)
        # null-geometry features: degenerate bbox at the envelope min
        # corner (valid tree; excluded from narrower bbox queries)
        boxes[~has_geom] = [envelope[0], envelope[1],
                            envelope[0], envelope[1]]
        order = _hilbert_order(boxes)
        sboxes = boxes[order]
        ssizes = sizes[order]
        feat_offsets = np.concatenate([[0], np.cumsum(ssizes)[:-1]])
        nodes = _build_index(sboxes, feat_offsets.astype(np.uint64),
                             max(int(index_node_size), 2))
        src_offsets = np.concatenate([[0], np.cumsum(sizes)[:-1]])
        fh.write(MAGIC)
        fh.write(_encode_header(name, gt_code, cols, n,
                                max(int(index_node_size), 2), envelope))
        fh.write(nodes.tobytes())
        for i in order:
            sf.seek(src_offsets[i])
            fh.write(sf.read(sizes[i]))
