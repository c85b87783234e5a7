"""Atlas BNA source + sink — reference parity for the BNA row
(`fiona/drvsupport.py:31` ``("BNA", "rw")``).

BNA is a line-oriented text format.  Each record is a header of 2-4
quoted identifier fields plus a point count, followed by the
coordinates::

    "Primary name","Secondary name",5
    -20.0,10.0
    ...

The count encodes the geometry kind the same way GDAL's BNA driver
maps records to layers:

* ``1``         -> Point
* ``2``         -> ellipse (center + (major, minor) radii) — GDAL
  discretizes ellipses into 360-point polygons; mirrored here
* ``>= 3``      -> Polygon (single ring, stored verbatim — no closure
  normalization, matching the engine's bit-exact round-trip rule)
* ``negative``  -> LineString of ``|count|`` points

Coordinates may be packed several per line; the parser tokenizes the
record tail and consumes ``2*|count|`` floats, which handles every
layout the spec allows.

Driver-side parse into one typed frame (``drivers.rows_frame``; the
``id1``..``idN`` header fields are strings), like the other text
drivers; the writer encodes ``drivers.feature_rows`` into
``drivers.atomic_file`` — driver-serial single-file encode, route bulk
exports through parquet/iceberg_like.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import atomic_file, feature_rows, rows_frame

_HEADER = re.compile(r'^\s*"')


def _split_header(line: str):
    """Header = quoted id fields + a trailing signed int count."""
    ids = re.findall(r'"((?:[^"]|"")*)"', line)
    tail = line.rsplit(",", 1)[-1].strip()
    try:
        count = int(tail)
    except ValueError:
        raise DriverError(f"malformed BNA header line: {line!r}")
    return [s.replace('""', '"') for s in ids], count


def read_bna(spark, path: str) -> DataFrame:
    """Open a .bna file as a ring-model DataFrame (all record kinds in
    one frame, ``geom_type`` discriminating — the GDAL driver's
    per-kind layers are a ``filter`` away)."""
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = [ln.rstrip("\n") for ln in f]
    rows, i, n = [], 0, len(lines)
    fields = {"fid": T.LongType()}
    while i < n:
        line = lines[i]
        if not line.strip():
            i += 1
            continue
        if not _HEADER.match(line):
            raise DriverError(f"expected BNA header at line {i + 1}: "
                              f"{line!r}")
        ids, count = _split_header(line)
        npts = abs(count)
        vals: list[float] = []
        i += 1
        while len(vals) < 2 * npts and i < n:
            vals.extend(float(t) for t in
                        re.split(r"[,\s]+", lines[i].strip()) if t)
            i += 1
        if len(vals) < 2 * npts:
            raise DriverError(f"BNA record {ids!r} truncated: "
                              f"{len(vals) // 2}/{npts} points")
        xs = vals[0::2][:npts]
        ys = vals[1::2][:npts]
        if count == 1:
            gt, rxs, rys = "Point", [[xs[0]]], [[ys[0]]]
        elif count == 2:
            # ellipse: (center, radii) -> 360-point polygon like GDAL
            cx, cy, rx_, ry_ = xs[0], ys[0], xs[1], ys[1]
            ang = [2.0 * math.pi * k / 360.0 for k in range(360)]
            ex = [cx + rx_ * math.cos(a) for a in ang]
            ey = [cy + ry_ * math.sin(a) for a in ang]
            ex.append(ex[0]); ey.append(ey[0])
            gt, rxs, rys = "Polygon", [ex], [ey]
        elif count < 0:
            gt, rxs, rys = "LineString", [xs], [ys]
        else:
            gt, rxs, rys = "Polygon", [xs], [ys]
        ids = {f"id{k + 1}": v for k, v in enumerate(ids)}
        fields.update(dict.fromkeys(ids, T.StringType()))
        rows.append({"fid": len(rows), "geom_type": gt,
                     "rings_xs": rxs, "rings_ys": rys, **ids})
    if not rows:
        raise DriverError(f"no BNA records in {path!r}")
    return rows_frame(spark, rows, fields)


def write_bna(df: DataFrame, path: str) -> None:
    """Single-file BNA sink over ``drivers.feature_rows``.  The first
    four string property columns (``id1``/``id2``/... as ``read_bna``
    names them), in schema order, become the quoted header fields.
    Geometry restrictions are the format's own: Point, LineString, and
    SINGLE-RING Polygon records exist in BNA; anything else raises.

    THROUGHPUT CEILING: one text file = driver-serial encode; bulk
    exports belong in parquet/iceberg_like.
    """
    props, rows = feature_rows(df)
    id_cols = [c for c, t in props if t == "string"][:4]
    with atomic_file(path) as tmp, open(tmp, "w", encoding="utf-8") as f:
        for d in rows:
            rxs, rys = d.get("rings_xs"), d.get("rings_ys")
            gt = d.get("geom_type")
            if not rxs or gt is None:
                raise DriverError("BNA cannot store null geometries")
            if gt == "Point":
                count = 1
                pts = [(rxs[0][0], rys[0][0])]
            elif gt == "LineString":
                count = -len(rxs[0])
                pts = list(zip(rxs[0], rys[0]))
            elif gt == "Polygon":
                if len(rxs) != 1:
                    raise DriverError(
                        "BNA polygons are single-ring; dissolve or "
                        "explode holes before writing")
                count = len(rxs[0])
                pts = list(zip(rxs[0], rys[0]))
            else:
                raise DriverError(f"BNA cannot store {gt!r}")
            ids = [str(d.get(c) if d.get(c) is not None else "")
                   for c in id_cols] or [""]
            hdr = ",".join(f'"{s.replace(chr(34), chr(34) * 2)}"'
                           for s in ids)
            f.write(f"{hdr},{count}\n")
            for x, y in pts:
                f.write(f"{x!r},{y!r}\n")
