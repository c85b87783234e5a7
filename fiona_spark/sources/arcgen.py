"""Arc/Info Generate source — reference parity for the ARCGEN row
(`fiona/drvsupport.py:29` ``("ARCGEN", "r")``).

The generate format is the text dump ARC/INFO's UNGENERATE command
produces.  Two shapes exist:

* points — one ``id,x,y`` line per feature, closed by ``END``
* lines / polygons — an ``id`` line (optionally ``id,x,y`` where the
  pair is a label point, ignored like GDAL does), then ``x,y``
  coordinate lines, ``END`` per feature, and a final ``END`` for the
  file

Like GDAL's ARCGEN driver the reader auto-detects the shape; closed
chains (first point == last point) surface as Polygon, open chains as
LineString.  Read-only — the reference registers no write mode.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import rows_frame


def read_arcgen(spark, path: str) -> DataFrame:
    """Open an Arc/Info generate file as a ring-model DataFrame."""
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if not lines:
        raise DriverError(f"empty generate file {path!r}")
    rows: list[dict] = []
    i, n = 0, len(lines)
    while i < n:
        line = lines[i]
        if line.upper() == "END":
            i += 1
            continue
        fields = [t for t in re.split(r"[,\s]+", line) if t]
        # points shape: id,x,y followed by another id,x,y or END
        nxt = lines[i + 1] if i + 1 < n else "END"
        nxt_fields = [t for t in re.split(r"[,\s]+", nxt) if t]
        if len(fields) == 3 and len(nxt_fields) != 2:
            rows.append({"fid": int(float(fields[0])),
                         "geom_type": "Point",
                         "rings_xs": [[float(fields[1])]],
                         "rings_ys": [[float(fields[2])]]})
            i += 1
            continue
        # chain shape: id [label_x label_y] then x,y lines until END
        fid = int(float(fields[0]))
        xs: list[float] = []
        ys: list[float] = []
        i += 1
        while i < n and lines[i].upper() != "END":
            pts = [t for t in re.split(r"[,\s]+", lines[i]) if t]
            if len(pts) < 2:
                raise DriverError(
                    f"malformed generate coordinate line: {lines[i]!r}")
            xs.append(float(pts[0]))
            ys.append(float(pts[1]))
            i += 1
        i += 1                                   # consume END
        if not xs:
            raise DriverError(f"generate record {fid} has no points")
        closed = len(xs) >= 4 and xs[0] == xs[-1] and ys[0] == ys[-1]
        rows.append({"fid": fid,
                     "geom_type": "Polygon" if closed else "LineString",
                     "rings_xs": [xs], "rings_ys": [ys]})
    if not rows:
        raise DriverError(f"no features in generate file {path!r}")
    return rows_frame(spark, rows, {"fid": T.LongType()})
