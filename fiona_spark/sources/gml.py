"""GML feature-collection source — reference parity for the GML driver
(`fiona/drvsupport.py` GML row; contract
`/root/reference/tests/test_curve_geometries.py::test_multicurve_conversion`:
curve members convert to linear approximations, RFC 49).

Stdlib ``xml.etree`` parse, namespace-agnostic (localname dispatch):
``featureMember``/``member`` elements become rows; the first child
element holding a GML geometry is the geometry property, every other
child with text becomes a property column.  Geometry subset:
Point/LineString/LinearRing (``pos``/``posList``),
Curve/segments/ArcString (arcs densified by the SAME kernel as the
WKB/WKT codecs), CompositeCurve (stitched), MultiCurve ->
MultiLineString, Polygon (exterior/interior), MultiSurface/
MultiPolygon -> MultiPolygon, MultiPoint.

Spark shape: XML has no record framing Spark can split on, so the
document parses on the driver (like TopoJSON); the resulting feature
list lands in one typed frame (``drivers.rows_frame``; every property
a string column, in first-seen order).  Convert to parquet for bulk.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import numpy as np
from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from ..wkb import _linearize_arcs
from .drivers import atomic_file, feature_rows, rows_frame


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _pos_list(el) -> list:
    vals = [float(v) for v in (el.text or "").split()]
    return [[vals[i], vals[i + 1]] for i in range(0, len(vals) - 1, 2)]


def _line_of(el) -> list:
    """Any curve-ish element -> linear vertex list."""
    name = _local(el.tag)
    if name in ("LineString", "LinearRing"):
        for ch in el:
            if _local(ch.tag) == "posList":
                return _pos_list(ch)
            if _local(ch.tag) == "coordinates":
                return [[float(a) for a in pair.split(",")][:2]
                        for pair in (ch.text or "").split()]
        raise DriverError(f"{name} without posList")
    if name == "ArcString":
        for ch in el:
            if _local(ch.tag) == "posList":
                pts = np.asarray(_pos_list(ch), np.float64)
                return [list(map(float, q)) for q in _linearize_arcs(pts)]
        raise DriverError("ArcString without posList")
    if name == "Curve":
        pts: list = []
        for seg_holder in el:
            if _local(seg_holder.tag) != "segments":
                continue
            for seg in seg_holder:
                sub = (_line_of(seg) if _local(seg.tag) == "ArcString"
                       else _segment_line(seg))
                if pts and sub and pts[-1] == sub[0]:
                    sub = sub[1:]
                pts.extend(sub)
        return pts
    if name == "CompositeCurve":
        pts = []
        for member in el:
            if _local(member.tag) != "curveMember":
                continue
            for sub_el in member:
                sub = _line_of(sub_el)
                if pts and sub and pts[-1] == sub[0]:
                    sub = sub[1:]
                pts.extend(sub)
        return pts
    raise DriverError(f"unsupported curve element {name!r}")


def _segment_line(seg) -> list:
    """A gml:segments member that is not an ArcString: LineStringSegment
    with posList."""
    for ch in seg:
        if _local(ch.tag) == "posList":
            return _pos_list(ch)
    raise DriverError(f"unsupported segment {_local(seg.tag)!r}")


def _polygon_of(el) -> tuple[list, list]:
    rings = []
    for ch in el:
        role = _local(ch.tag)
        if role in ("exterior", "interior", "outerBoundaryIs",
                    "innerBoundaryIs"):
            for ring_el in ch:
                rings.append(_line_of(ring_el))
    return rings


_GEOM_TAGS = {"Point", "LineString", "Curve", "CompositeCurve",
              "MultiCurve", "Polygon", "Surface", "MultiSurface",
              "MultiPolygon", "MultiPoint", "MultiLineString"}


def decode_geometry(el) -> tuple[str, list, list]:
    """GML geometry element -> (geom_type, rings_xs, rings_ys)."""
    name = _local(el.tag)
    if name == "Point":
        for ch in el:
            if _local(ch.tag) in ("pos", "coordinates"):
                txt = (ch.text or "").replace(",", " ")
                x, y = [float(v) for v in txt.split()[:2]]
                return "Point", [[x]], [[y]]
        raise DriverError("Point without pos")
    if name in ("LineString", "Curve", "CompositeCurve"):
        pts = _line_of(el)
        return ("LineString", [[p[0] for p in pts]], [[p[1] for p in pts]])
    if name in ("MultiCurve", "MultiLineString"):
        parts = []
        for member in el:
            if _local(member.tag) in ("curveMember", "lineStringMember"):
                for sub in member:
                    parts.append(_line_of(sub))
        return ("MultiLineString",
                [[p[0] for p in part] for part in parts],
                [[p[1] for p in part] for part in parts])
    if name == "Polygon":
        rings = _polygon_of(el)
        return ("Polygon", [[p[0] for p in r] for r in rings],
                [[p[1] for p in r] for r in rings])
    if name in ("MultiSurface", "MultiPolygon"):
        rings = []
        for member in el:
            if _local(member.tag) in ("surfaceMember", "polygonMember"):
                for sub in member:
                    rings.extend(_polygon_of(sub))
        return ("MultiPolygon", [[p[0] for p in r] for r in rings],
                [[p[1] for p in r] for r in rings])
    if name == "MultiPoint":
        xs, ys = [], []
        for member in el:
            if _local(member.tag) == "pointMember":
                for sub in member:
                    _t, px, py = decode_geometry(sub)
                    xs.append(px[0][0]); ys.append(py[0][0])
        return "MultiPoint", [xs], [ys]
    raise DriverError(f"unsupported GML geometry {name!r}")


def _find_geometry(feature_el):
    """Depth-1/2 search for the geometry element inside a feature."""
    for ch in feature_el:
        if _local(ch.tag) in _GEOM_TAGS:
            return ch, None
        for sub in ch:
            if _local(sub.tag) in _GEOM_TAGS:
                return sub, ch
    return None, None


def read_gml(spark, path: str) -> DataFrame:
    """Open a GML FeatureCollection as a ring-model DataFrame."""
    root = ET.parse(path).getroot()
    rows = []
    fields = {"fid": T.LongType()}
    for member in root:
        if _local(member.tag) not in ("featureMember", "member"):
            continue
        for feat in member:
            geom_el, geom_holder = _find_geometry(feat)
            if geom_el is None:
                t, rxs, rys = None, None, None
            else:
                t, rxs, rys = decode_geometry(geom_el)
            props = {}
            for ch in feat:
                if ch is geom_holder or _local(ch.tag) in _GEOM_TAGS \
                        or _local(ch.tag) == "boundedBy":
                    continue
                if ch.text and ch.text.strip():
                    props[_local(ch.tag)] = ch.text.strip()
            fields.update(dict.fromkeys(props, T.StringType()))
            rows.append({"fid": len(rows), "geom_type": t,
                         "rings_xs": rxs, "rings_ys": rys, **props})
    if not rows:
        raise DriverError(f"no featureMember elements in {path!r}")
    return rows_frame(spark, rows, fields)


# ---------------------------------------------------------------------------
# writer (reference registers GML "rw": fiona/drvsupport.py:69)
# ---------------------------------------------------------------------------

def _pos_list_text(ring_x, ring_y) -> str:
    return " ".join(f"{float(x)!r} {float(y)!r}"
                    for x, y in zip(ring_x, ring_y))


def _gml_geometry_xml(gt, rxs, rys) -> str:
    """(geom_type, rings) -> GML 3 geometry markup the reader parses
    back bit-identically (repr doubles round-trip exactly)."""
    if gt is None or rxs is None or not len(rxs):
        return ""
    if gt == "Point":
        return (f"<gml:Point><gml:pos>{float(rxs[0][0])!r} "
                f"{float(rys[0][0])!r}</gml:pos></gml:Point>")
    if gt == "LineString":
        return (f"<gml:LineString><gml:posList>"
                f"{_pos_list_text(rxs[0], rys[0])}"
                f"</gml:posList></gml:LineString>")
    if gt == "MultiLineString":
        members = "".join(
            f"<gml:curveMember><gml:LineString><gml:posList>"
            f"{_pos_list_text(rx, ry)}</gml:posList></gml:LineString>"
            f"</gml:curveMember>" for rx, ry in zip(rxs, rys))
        return f"<gml:MultiCurve>{members}</gml:MultiCurve>"
    if gt == "MultiPoint":
        members = "".join(
            f"<gml:pointMember><gml:Point><gml:pos>{float(x)!r} "
            f"{float(y)!r}</gml:pos></gml:Point></gml:pointMember>"
            for x, y in zip(rxs[0], rys[0]))
        return f"<gml:MultiPoint>{members}</gml:MultiPoint>"
    if gt == "Polygon":
        return _gml_polygon_xml(rxs, rys)
    if gt == "MultiPolygon":
        # part grouping reconstructed from ring nesting (the writer's
        # flat ring model is typeless) — same rule as geometry_from_rings
        from .. import model
        g = model.geometry_from_rings("MultiPolygon", rxs, rys)
        parts = []
        for part in g["coordinates"]:
            pxs = [[p[0] for p in ring] for ring in part]
            pys = [[p[1] for p in ring] for ring in part]
            parts.append(f"<gml:surfaceMember>"
                         f"{_gml_polygon_xml(pxs, pys)}</gml:surfaceMember>")
        return f"<gml:MultiSurface>{''.join(parts)}</gml:MultiSurface>"
    raise DriverError(f"cannot encode geometry type {gt!r} as GML")


def _gml_polygon_xml(rxs, rys) -> str:
    rings = []
    for i, (rx, ry) in enumerate(zip(rxs, rys)):
        role = "exterior" if i == 0 else "interior"
        rings.append(
            f"<gml:{role}><gml:LinearRing><gml:posList>"
            f"{_pos_list_text(rx, ry)}</gml:posList></gml:LinearRing>"
            f"</gml:{role}>")
    return f"<gml:Polygon>{''.join(rings)}</gml:Polygon>"


def write_gml(df: DataFrame, path: str,
              feature_name: str = "feature") -> None:
    """Single-file GML FeatureCollection sink (reference mode parity:
    GML is "rw", `fiona/drvsupport.py:69`).

    Encodes ``drivers.feature_rows`` into ``drivers.atomic_file``
    (driver-serial encode — the single-file sink throughput ceiling;
    bulk exports belong in parquet).  Property columns emit as child
    elements with escaped text; geometry emits GML 3 markup
    ``read_gml`` decodes back, with ``repr`` doubles so coordinates
    round-trip bit-exactly.
    """
    from xml.sax.saxutils import escape

    props, rows = feature_rows(df)
    with atomic_file(path) as tmp, open(tmp, "w", encoding="utf-8") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        fh.write('<gml:FeatureCollection '
                 'xmlns:gml="http://www.opengis.net/gml" '
                 'xmlns:fs="urn:fiona-spark">\n')
        for d in rows:
            gt, rxs, rys = (d.get("geom_type"), d.get("rings_xs"),
                            d.get("rings_ys"))
            fh.write(f"<gml:featureMember><fs:{feature_name}>")
            for p, _t in props:
                v = d.get(p)
                if v is not None:
                    fh.write(f"<fs:{p}>{escape(str(v))}</fs:{p}>")
            fh.write(_gml_geometry_xml(gt, rxs, rys))
            fh.write(f"</fs:{feature_name}></gml:featureMember>\n")
        fh.write("</gml:FeatureCollection>\n")
