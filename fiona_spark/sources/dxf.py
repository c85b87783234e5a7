"""AutoCAD DXF source + sink — reference parity for the DXF row
(`fiona/drvsupport.py:35` ``("DXF", "rw")``).

DXF is a text tag file: alternating group-code / value lines.  Like
GDAL's driver the engine exposes ONE layer (``entities``) with the
entity's CAD layer name as a ``layer`` property, and maps the vector
entity subset:

* ``POINT``                      -> Point (codes 10/20)
* ``LINE``                       -> LineString (10/20 start, 11/21 end)
* ``LWPOLYLINE``                 -> LineString, or Polygon when the
  closed flag (code 70 bit 1) is set — the ring closure vertex is
  added on read, exactly GDAL's behavior
* ``POLYLINE``/``VERTEX``/``SEQEND`` -> same mapping as LWPOLYLINE

The writer emits a minimal ``ENTITIES`` section (no HEADER/TABLES —
optional per spec, and GDAL reads such files): Point -> ``POINT``,
LineString -> open ``LWPOLYLINE``, Polygon -> one closed
``LWPOLYLINE`` per ring (the DXF entity model has no multi-ring
surface short of HATCH, so multi-ring polygons flatten to one entity
per ring; single-ring polygons round trip exactly).  Coordinates
print via ``repr`` — bit-exact round trips, the engine-wide rule.

Driver-side parse into one typed frame (``drivers.rows_frame``;
``layer`` and ``entity`` are strings); the writer encodes
``drivers.feature_rows`` into ``drivers.atomic_file`` (single text
file = driver-serial encode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import atomic_file, feature_rows, rows_frame


def _pairs(path: str):
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = f.read().splitlines()
    for i in range(0, len(lines) - 1, 2):
        try:
            code = int(lines[i].strip())
        except ValueError:
            raise DriverError(
                f"malformed DXF group code at line {i + 1}: "
                f"{lines[i]!r}")
        yield code, lines[i + 1].strip()


def read_dxf(spark, path: str) -> DataFrame:
    """Open a .dxf file's ENTITIES section as a ring-model DataFrame."""
    rows: list[dict] = []
    in_entities = False
    ent = None          # dict for the entity being assembled
    section = None

    def flush():
        nonlocal ent
        if ent is None:
            return
        kind = ent["kind"]
        xs, ys = ent["xs"], ent["ys"]
        gt = None
        if kind == "POINT" and xs:
            gt, xs, ys = "Point", xs[:1], ys[:1]
        elif kind == "LINE" and len(xs) >= 2:
            gt = "LineString"
        elif kind in ("LWPOLYLINE", "POLYLINE") and len(xs) >= 2:
            if ent["closed"]:
                gt = "Polygon"
                if xs[0] != xs[-1] or ys[0] != ys[-1]:
                    xs = xs + [xs[0]]
                    ys = ys + [ys[0]]
            else:
                gt = "LineString"
        if gt is not None:
            rows.append({"fid": len(rows), "geom_type": gt,
                         "rings_xs": [xs], "rings_ys": [ys],
                         "layer": ent["layer"],
                         "entity": kind})
        ent = None

    for code, val in _pairs(path):
        if code == 0:
            v = val.upper()
            if v == "SECTION":
                section = "PENDING"
            elif v == "ENDSEC":
                flush()
                in_entities = False
                section = None
            elif v == "EOF":
                break
            elif in_entities:
                if v in ("POINT", "LINE", "LWPOLYLINE", "POLYLINE"):
                    flush()
                    ent = {"kind": v, "xs": [], "ys": [],
                           "closed": False, "layer": "0",
                           "in_vertex": False}
                elif v == "VERTEX" and ent is not None \
                        and ent["kind"] == "POLYLINE":
                    # 10/20 codes accumulate; VERTEX rows carry their
                    # own code-70 vertex flags, which must NOT clobber
                    # the POLYLINE header's closed flag
                    ent["in_vertex"] = True
                elif v == "SEQEND":
                    flush()
                else:
                    flush()                   # unsupported entity: skip
        elif code == 2 and section == "PENDING":
            section = val.upper()
            in_entities = section == "ENTITIES"
        elif ent is not None:
            if code == 8:
                ent["layer"] = val
            elif code == 10:
                ent["xs"].append(float(val))
            elif code == 20:
                ent["ys"].append(float(val))
            elif code == 11:
                ent["xs"].append(float(val))
            elif code == 21:
                ent["ys"].append(float(val))
            elif code == 70 and ent["kind"] in ("LWPOLYLINE",
                                                "POLYLINE") \
                    and not ent["in_vertex"]:
                ent["closed"] = bool(int(val) & 1)
    flush()
    if not rows:
        raise DriverError(f"no supported entities in {path!r}")
    return rows_frame(spark, rows, {"fid": T.LongType(), **dict.fromkeys(
        ("layer", "entity"), T.StringType())})


def write_dxf(df: DataFrame, path: str) -> None:
    """Single-file DXF sink (minimal ENTITIES-only document) over
    ``drivers.feature_rows``.

    A ``layer`` string column maps to the entity's CAD layer (code 8,
    default ``"0"``).  THROUGHPUT CEILING: driver-serial single-file
    encode; bulk exports belong in parquet/iceberg_like.
    """
    _props, rows = feature_rows(df)
    with atomic_file(path) as tmp, open(tmp, "w", encoding="utf-8") as f:
        f.write("0\nSECTION\n2\nENTITIES\n")
        for d in rows:
            gt = d.get("geom_type")
            rxs, rys = d.get("rings_xs"), d.get("rings_ys")
            if gt is None or not rxs:
                raise DriverError("DXF cannot store null geometries")
            layer = d.get("layer") or "0"
            if gt == "Point":
                f.write(f"0\nPOINT\n8\n{layer}\n"
                        f"10\n{rxs[0][0]!r}\n20\n{rys[0][0]!r}\n")
            elif gt in ("LineString", "MultiLineString",
                        "Polygon", "MultiPolygon"):
                closed = int(gt.endswith("Polygon"))
                for xs, ys in zip(rxs, rys):
                    f.write(f"0\nLWPOLYLINE\n8\n{layer}\n"
                            f"90\n{len(xs)}\n70\n{closed}\n")
                    for x, y in zip(xs, ys):
                        f.write(f"10\n{x!r}\n20\n{y!r}\n")
            else:
                raise DriverError(f"DXF cannot store {gt!r}")
        f.write("0\nENDSEC\n0\nEOF\n")
