"""GPX source — reference parity for the GPX driver
(`fiona/drvsupport.py` GPX row, read mode).  The GDAL driver exposes
the file as LAYERS: ``waypoints`` (wpt -> Point), ``tracks`` (trk ->
MultiLineString of its trksegs), ``track_points`` (flattened trkpt
rows), ``routes``/``route_points`` (rte/rtept) — mirrored here.

Stdlib ``xml.etree`` parse on the driver (XML has no splittable
framing), one typed frame per layer (``drivers.rows_frame``).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import atomic_file, feature_rows, rows_frame

LAYERS = ("waypoints", "tracks", "track_points", "routes", "route_points")
_S, _L = T.StringType(), T.LongType()


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _child_text(el, name):
    for ch in el:
        if _local(ch.tag) == name:
            return (ch.text or "").strip()
    return None


def _points_of(seg, tagname):
    pts = []
    for ch in seg:
        if _local(ch.tag) == tagname:
            pts.append((float(ch.attrib["lon"]), float(ch.attrib["lat"]),
                        _child_text(ch, "ele"), _child_text(ch, "time")))
    return pts


def read_gpx(spark, path: str, layer: str = "waypoints") -> DataFrame:
    """Open one GPX layer as a ring-model DataFrame."""
    if layer not in LAYERS:
        raise DriverError(f"unknown GPX layer {layer!r} (have {LAYERS})")
    root = ET.parse(path).getroot()
    rows = []
    if layer == "waypoints":
        fields = {"fid": _L, "name": _S, "ele": _S, "time": _S}
        for el in root:
            if _local(el.tag) != "wpt":
                continue
            rows.append({
                "fid": len(rows), "geom_type": "Point",
                "rings_xs": [[float(el.attrib["lon"])]],
                "rings_ys": [[float(el.attrib["lat"])]],
                "name": _child_text(el, "name"),
                "ele": _child_text(el, "ele"),
                "time": _child_text(el, "time")})
    elif layer in ("tracks", "routes"):
        fields = {"fid": _L, "name": _S}
        holder, seg_tag, pt_tag = (
            ("trk", "trkseg", "trkpt") if layer == "tracks"
            else ("rte", None, "rtept"))
        for el in root:
            if _local(el.tag) != holder:
                continue
            parts = []
            if seg_tag:
                for seg in el:
                    if _local(seg.tag) == seg_tag:
                        pts = _points_of(seg, pt_tag)
                        if pts:
                            parts.append(pts)
            else:
                pts = _points_of(el, pt_tag)
                if pts:
                    parts.append(pts)
            # parity with the reference's GPX driver: routes are
            # LineString (one rte = one chain); only tracks are
            # MultiLineString (of their trksegs)
            gtype = "MultiLineString" if layer == "tracks" else "LineString"
            rows.append({
                "fid": len(rows), "geom_type": gtype,
                "rings_xs": [[p[0] for p in part] for part in parts],
                "rings_ys": [[p[1] for p in part] for part in parts],
                "name": _child_text(el, "name")})
    else:                                     # track_points/route_points
        fields = {"fid": _L, "track_fid": _L, "track_seg_id": _L,
                  "ele": T.DoubleType(), "time": _S}
        holder, seg_tag, pt_tag = (
            ("trk", "trkseg", "trkpt") if layer == "track_points"
            else ("rte", None, "rtept"))
        for ti, el in enumerate(e for e in root if _local(e.tag) == holder):
            segs = ([s for s in el if _local(s.tag) == seg_tag]
                    if seg_tag else [el])
            for si, seg in enumerate(segs):
                for lon, lat, ele, time in _points_of(seg, pt_tag):
                    rows.append({
                        "fid": len(rows), "geom_type": "Point",
                        "rings_xs": [[lon]], "rings_ys": [[lat]],
                        "track_fid": ti, "track_seg_id": si,
                        "ele": float(ele) if ele else None, "time": time})
    if not rows:
        raise DriverError(f"no {layer!r} features in {path!r}")
    return rows_frame(spark, rows, fields)


# ---------------------------------------------------------------------------
# writer (reference registers GPX "rw": fiona/drvsupport.py:76)
# ---------------------------------------------------------------------------

def write_gpx(df: DataFrame, path: str) -> None:
    """Single-file GPX 1.1 sink (reference mode parity: GPX is "rw").

    Rows dispatch to GPX elements by geometry type, matching the
    layer model ``read_gpx`` exposes:

    * ``Point``           -> ``<wpt>``   (waypoints layer)
    * ``LineString``      -> ``<rte>``   (routes layer; one chain)
    * ``MultiLineString`` -> ``<trk>``   (tracks layer; one
      ``<trkseg>`` per part)

    ``name``/``ele``/``time`` columns map to the spec's child
    elements; other property columns are out of the GPX schema and
    are skipped (the reference's GDAL driver drops them too unless
    GPX_USE_EXTENSIONS is set).  Rows without geometry are skipped.
    Encodes ``drivers.feature_rows`` — driver-serial single-file
    encode; bulk exports belong in parquet.  Coordinates emit ``repr``
    doubles (bit-exact round-trip).
    """
    from xml.sax.saxutils import escape, quoteattr

    def pt(tag, x, y, ele=None, time=None, name=None):
        body = ""
        if name:
            body += f"<name>{escape(str(name))}</name>"
        if ele is not None:
            body += f"<ele>{escape(str(ele))}</ele>"
        if time is not None:
            body += f"<time>{escape(str(time))}</time>"
        if body:
            return (f'<{tag} lat={quoteattr(repr(float(y)))} '
                    f'lon={quoteattr(repr(float(x)))}>{body}</{tag}>')
        return (f'<{tag} lat={quoteattr(repr(float(y)))} '
                f'lon={quoteattr(repr(float(x)))}/>')

    _props, rows = feature_rows(df)
    with atomic_file(path) as tmp, open(tmp, "w", encoding="utf-8") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        fh.write('<gpx version="1.1" creator="fiona_spark" '
                 'xmlns="http://www.topografix.com/GPX/1/1">\n')
        for d in rows:
            gt = d.get("geom_type")
            rxs, rys = d.get("rings_xs"), d.get("rings_ys")
            if gt is None or rxs is None:
                continue
            name = d.get("name")
            name_xml = f"<name>{escape(str(name))}</name>" if name else ""
            if gt == "Point":
                fh.write(pt("wpt", rxs[0][0], rys[0][0], d.get("ele"),
                            d.get("time"), name))
                fh.write("\n")
            elif gt == "LineString":
                pts = "".join(pt("rtept", x, y)
                              for x, y in zip(rxs[0], rys[0]))
                fh.write(f"<rte>{name_xml}{pts}</rte>\n")
            elif gt == "MultiLineString":
                segs = "".join(
                    "<trkseg>" + "".join(
                        pt("trkpt", x, y)
                        for x, y in zip(rx, ry)) + "</trkseg>"
                    for rx, ry in zip(rxs, rys))
                fh.write(f"<trk>{name_xml}{segs}</trk>\n")
            else:
                raise DriverError(
                    f"geometry type {gt!r} has no GPX element "
                    "(Point/LineString/MultiLineString only)")
        fh.write("</gpx>\n")
