"""KML source — reference parity for the KML driver
(`fiona/drvsupport.py` KML row, read mode).  Placemark elements become
features: ``name``/``description`` and ``ExtendedData`` SimpleData/Data
entries are properties; Point/LineString/LinearRing/Polygon/MultiGeometry
coordinates parse from the KML ``lon,lat[,alt]`` tuple text.

Stdlib ``xml.etree`` parse on the driver (single-document XML) into
one typed frame (``drivers.rows_frame``), like the GML/GPX sources:
every property is a string column, in first-seen order.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import atomic_file, feature_rows, rows_frame


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _coords_text(el) -> list:
    pts = []
    for tup in (el.text or "").split():
        parts = tup.split(",")
        if len(parts) >= 2:
            pts.append([float(parts[0]), float(parts[1])])
    return pts


def _find(el, name):
    for ch in el:
        if _local(ch.tag) == name:
            return ch
    return None


def _geom_of(el):
    """KML geometry element -> (type, rings_xs, rings_ys)."""
    name = _local(el.tag)
    if name == "Point":
        c = _find(el, "coordinates")
        pts = _coords_text(c) if c is not None else []
        if not pts:
            return None, None, None
        return "Point", [[pts[0][0]]], [[pts[0][1]]]
    if name in ("LineString", "LinearRing"):
        c = _find(el, "coordinates")
        pts = _coords_text(c) if c is not None else []
        return ("LineString", [[p[0] for p in pts]],
                [[p[1] for p in pts]])
    if name == "Polygon":
        rings = []
        for ch in el:
            if _local(ch.tag) in ("outerBoundaryIs", "innerBoundaryIs"):
                ring_el = _find(ch, "LinearRing")
                c = _find(ring_el, "coordinates") \
                    if ring_el is not None else None
                if c is not None:
                    rings.append(_coords_text(c))
        return ("Polygon", [[p[0] for p in r] for r in rings],
                [[p[1] for p in r] for r in rings])
    if name == "MultiGeometry":
        rxs, rys = [], []
        t = "GeometryCollection"
        kinds = set()
        for ch in el:
            sub_t, sx, sy = _geom_of(ch)
            if sub_t is None:
                continue
            kinds.add(sub_t)
            rxs.extend(sx); rys.extend(sy)
        if kinds == {"Point"}:
            t = "MultiPoint"
            rxs = [[r[0] for r in rxs]]
            rys = [[r[0] for r in rys]]
        elif kinds == {"LineString"}:
            t = "MultiLineString"
        elif kinds == {"Polygon"}:
            t = "MultiPolygon"
        return t, rxs, rys
    return None, None, None


_GEOM_NAMES = ("Point", "LineString", "Polygon", "MultiGeometry",
               "LinearRing")


def read_kml(spark, path: str) -> DataFrame:
    """Open a KML document's Placemarks as a ring-model DataFrame."""
    root = ET.parse(path).getroot()
    rows = []
    fields = {"fid": T.LongType()}

    def walk(el):
        for ch in el:
            if _local(ch.tag) == "Placemark":
                yield ch
            elif _local(ch.tag) in ("Document", "Folder", "kml"):
                yield from walk(ch)
    placemarks = [root] if _local(root.tag) == "Placemark" \
        else list(walk(root))
    for pm in placemarks:
        t, rxs, rys = None, None, None
        props = {}
        for ch in pm:
            nm = _local(ch.tag)
            if nm in _GEOM_NAMES:
                t, rxs, rys = _geom_of(ch)
            elif nm in ("name", "description") and ch.text:
                props[nm] = ch.text.strip()
            elif nm == "ExtendedData":
                for d in ch.iter():
                    if _local(d.tag) in ("SimpleData", "Data"):
                        key = d.attrib.get("name")
                        val = d.text
                        if _local(d.tag) == "Data":
                            v_el = _find(d, "value")
                            val = v_el.text if v_el is not None else None
                        if key and val is not None:
                            props[key] = val.strip()
        fields.update(dict.fromkeys(props, T.StringType()))
        rows.append({"fid": len(rows), "geom_type": t,
                     "rings_xs": rxs, "rings_ys": rys, **props})
    if not rows:
        raise DriverError(f"no Placemark elements in {path!r}")
    return rows_frame(spark, rows, fields)


# ---------------------------------------------------------------------------
# writer (reference registers KML "rw": fiona/drvsupport.py KML row)
# ---------------------------------------------------------------------------

def _coords(ring_x, ring_y) -> str:
    return " ".join(f"{float(x)!r},{float(y)!r}"
                    for x, y in zip(ring_x, ring_y))


def _kml_geometry_xml(gt, rxs, rys) -> str:
    if gt is None or rxs is None or not len(rxs):
        return ""
    if gt == "Point":
        return (f"<Point><coordinates>{float(rxs[0][0])!r},"
                f"{float(rys[0][0])!r}</coordinates></Point>")
    if gt == "LineString":
        return (f"<LineString><coordinates>{_coords(rxs[0], rys[0])}"
                f"</coordinates></LineString>")
    if gt == "Polygon":
        return _kml_polygon_xml(rxs, rys)
    if gt == "MultiPoint":
        pts = "".join(
            f"<Point><coordinates>{float(x)!r},{float(y)!r}"
            f"</coordinates></Point>"
            for x, y in zip(rxs[0], rys[0]))
        return f"<MultiGeometry>{pts}</MultiGeometry>"
    if gt == "MultiLineString":
        lines = "".join(
            f"<LineString><coordinates>{_coords(rx, ry)}"
            f"</coordinates></LineString>"
            for rx, ry in zip(rxs, rys))
        return f"<MultiGeometry>{lines}</MultiGeometry>"
    if gt == "MultiPolygon":
        from .. import model
        g = model.geometry_from_rings("MultiPolygon", rxs, rys)
        parts = []
        for part in g["coordinates"]:
            pxs = [[p[0] for p in ring] for ring in part]
            pys = [[p[1] for p in ring] for ring in part]
            parts.append(_kml_polygon_xml(pxs, pys))
        return f"<MultiGeometry>{''.join(parts)}</MultiGeometry>"
    raise DriverError(f"cannot encode geometry type {gt!r} as KML")


def _kml_polygon_xml(rxs, rys) -> str:
    rings = []
    for i, (rx, ry) in enumerate(zip(rxs, rys)):
        role = "outerBoundaryIs" if i == 0 else "innerBoundaryIs"
        rings.append(f"<{role}><LinearRing><coordinates>"
                     f"{_coords(rx, ry)}</coordinates></LinearRing>"
                     f"</{role}>")
    return f"<Polygon>{''.join(rings)}</Polygon>"


def write_kml(df: DataFrame, path: str) -> None:
    """Single-file KML Document sink (reference mode parity: KML "rw").

    One ``<Placemark>`` per row: ``name``/``description`` columns map
    to the KML elements of the same name, every other property column
    lands in ``<ExtendedData><Data name=..><value>..`` (the shape
    ``read_kml`` parses back), geometry emits the KML coordinate
    syntax with ``repr`` doubles (bit-exact round-trip).  Encodes
    ``drivers.feature_rows`` into ``drivers.atomic_file`` —
    driver-serial single-file encode; bulk exports belong in parquet.
    """
    from xml.sax.saxutils import escape, quoteattr

    props, rows = feature_rows(df)
    with atomic_file(path) as tmp, open(tmp, "w", encoding="utf-8") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        fh.write('<kml xmlns="http://www.opengis.net/kml/2.2">'
                 '<Document>\n')
        for d in rows:
            gt, rxs, rys = (d.get("geom_type"), d.get("rings_xs"),
                            d.get("rings_ys"))
            fh.write("<Placemark>")
            ext = []
            for p, _t in props:
                v = d.get(p)
                if v is None:
                    continue
                if p in ("name", "description"):
                    fh.write(f"<{p}>{escape(str(v))}</{p}>")
                else:
                    ext.append(f"<Data name={quoteattr(p)}><value>"
                               f"{escape(str(v))}</value></Data>")
            if ext:
                fh.write(f"<ExtendedData>{''.join(ext)}</ExtendedData>")
            fh.write(_kml_geometry_xml(gt, rxs, rys))
            fh.write("</Placemark>\n")
        fh.write("</Document></kml>\n")
