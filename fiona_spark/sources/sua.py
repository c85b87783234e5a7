"""SUA (Special Use Airspace) source — reference parity for the SUA
row (`fiona/drvsupport.py:131`: ``("SUA", "r")``).

The Tim Newport-Peace SUA exchange format is a plain-text airspace
description: blocks introduced by ``TYPE=`` carry ``TITLE=``,
``CLASS=``, ``TOPS=``, ``BASE=`` attributes and a boundary built from

* ``POINT=DDMM.MM{N|S} DDDMM.MM{E|W}`` vertices (degrees + decimal
  minutes, the format's coordinate spelling; plain signed decimal
  degrees also accepted),
* ``CIRCLE RADIUS=r CENTRE=<coord pair>`` — discretized to 360
  segments like the engine's BNA ellipse convention (radius in
  nautical miles, 1' of latitude),
* ``CLOCKWISE``/``ANTI-CLOCKWISE RADIUS=r CENTRE=c TO=p`` arcs —
  linearized about the centre from the previous vertex to ``TO``.

Feature schema follows GDAL's SUA layer: TYPE, CLASS, TITLE, TOPS,
BASE + Polygon geometry.  ``#`` comment lines and ``INCLUDE=`` toggles
are skipped.  Read-only, like the reference registration.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import rows_frame

__all__ = ["read_sua"]

_COORD = re.compile(r"^\s*(\d{2,4}(?:\.\d+)?)([NS])\s+"
                    r"(\d{3,5}(?:\.\d+)?)([EW])\s*$")
_NM_DEG = 1.0 / 60.0          # 1 nautical mile = 1 minute of latitude


def _parse_coord(text: str) -> tuple[float, float]:
    """'5532.6N 00259.0W' -> (lng, lat); falls back to 'lat lon'
    signed decimal degrees."""
    m = _COORD.match(text.strip())
    if m:
        latraw, ns, lonraw, ew = m.groups()
        lat_deg = float(latraw[:2])
        lat_min = float(latraw[2:] or 0.0)
        lon_deg = float(lonraw[:3])
        lon_min = float(lonraw[3:] or 0.0)
        lat = lat_deg + lat_min / 60.0
        lng = lon_deg + lon_min / 60.0
        if ns == "S":
            lat = -lat
        if ew == "W":
            lng = -lng
        return lng, lat
    parts = text.replace(",", " ").split()
    if len(parts) == 2:
        return float(parts[1]), float(parts[0])
    raise DriverError(f"cannot parse SUA coordinate {text!r}")


def _kv(line: str) -> dict:
    """'RADIUS=5 CENTRE=5532.6N 00259.0W TO=...' -> upper-key dict
    (values run until the next KEY=)."""
    out = {}
    toks = re.split(r"\s+", line.strip())
    key = None
    for tok in toks:
        if "=" in tok:
            key, first = tok.split("=", 1)
            out[key.upper()] = first
        elif key:
            out[key.upper()] += " " + tok
    return out


def _arc_points(cx, cy, px, py, qx, qy, clockwise: bool):
    """Linearize a circular arc about (cx, cy) from p to q, 5-degree
    steps, endpoints exact."""
    # GDAL's SUA driver works in a locally-isotropic frame: longitude
    # offsets are scaled by cos(centre latitude) so the arc is circular
    # on the ground, not in raw degrees.
    k = math.cos(math.radians(cy)) or 1.0
    r = math.hypot((px - cx) * k, py - cy)
    a0 = math.atan2(py - cy, (px - cx) * k)
    a1 = math.atan2(qy - cy, (qx - cx) * k)
    if clockwise:
        while a1 >= a0:
            a1 -= 2 * math.pi
    else:
        while a1 <= a0:
            a1 += 2 * math.pi
    n = max(2, int(abs(a1 - a0) / math.radians(5.0)) + 1)
    pts = []
    for i in range(1, n):
        a = a0 + (a1 - a0) * i / n
        pts.append((cx + r * math.cos(a) / k, cy + r * math.sin(a)))
    pts.append((qx, qy))
    return pts


def read_sua(spark, path: str) -> DataFrame:
    """Open a SUA airspace file as a ring-model DataFrame."""
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = [ln.rstrip() for ln in f]

    rows = []
    cur: dict | None = None
    verts: list[tuple[float, float]] = []

    def flush():
        nonlocal cur, verts
        if cur is None:
            return
        rec = {"fid": len(rows) + 1,
               "TYPE": cur.get("TYPE"), "CLASS": cur.get("CLASS"),
               "TITLE": cur.get("TITLE"), "TOPS": cur.get("TOPS"),
               "BASE": cur.get("BASE"),
               "geom_type": None, "rings_xs": None, "rings_ys": None}
        if len(verts) >= 3:
            vs = list(verts)
            if vs[0] != vs[-1]:
                vs.append(vs[0])
            rec["geom_type"] = "Polygon"
            rec["rings_xs"] = [[p[0] for p in vs]]
            rec["rings_ys"] = [[p[1] for p in vs]]
        rows.append(rec)
        cur, verts = None, []

    for raw in lines:
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        up = line.upper()
        if up.startswith("TYPE="):
            flush()
            cur = {"TYPE": line.split("=", 1)[1].strip()}
        elif cur is None:
            continue
        elif up.startswith(("TITLE=", "CLASS=", "TOPS=", "BASE=")):
            k, v = line.split("=", 1)
            cur[k.strip().upper()] = v.strip()
        elif up.startswith("POINT="):
            verts.append(_parse_coord(line.split("=", 1)[1]))
        elif up.startswith("CIRCLE"):
            kv = _kv(line[len("CIRCLE"):])
            cx, cy = _parse_coord(kv["CENTRE"])
            r = float(kv["RADIUS"]) * _NM_DEG
            # longitude offset scaled by 1/cos(lat): nautical-mile radius
            # is a ground distance, so in degrees the circle is wider in
            # longitude away from the equator (GDAL SUA convention).
            k = math.cos(math.radians(cy)) or 1.0
            pts = [(cx + r * math.cos(math.radians(a)) / k,
                    cy + r * math.sin(math.radians(a)))
                   for a in range(360)]
            verts.extend(pts)
        elif up.startswith(("CLOCKWISE", "ANTI-CLOCKWISE")):
            cw = up.startswith("CLOCKWISE")
            kv = _kv(line[(len("CLOCKWISE") if cw
                           else len("ANTI-CLOCKWISE")):])
            if "TO" not in kv or not verts:
                raise DriverError(f"SUA arc without origin/TO: {raw!r}")
            cx, cy = _parse_coord(kv["CENTRE"])
            qx, qy = _parse_coord(kv["TO"])
            px, py = verts[-1]
            verts.extend(_arc_points(cx, cy, px, py, qx, qy, cw))
        elif up.startswith("INCLUDE="):
            continue
        elif up == "END":
            flush()
    flush()

    if not rows:
        raise DriverError(f"no airspace blocks in SUA file {path!r}")
    return rows_frame(spark, rows, {
        "fid": T.LongType(),
        **dict.fromkeys(("TYPE", "CLASS", "TITLE", "TOPS", "BASE"),
                        T.StringType())})
