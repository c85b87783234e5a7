"""MapInfo Interchange (MIF/MID) source + sink — reference parity for
the MapInfo row (`fiona/drvsupport.py:92` ``("MapInfo File", "raw")``).

GDAL's "MapInfo File" driver handles both the binary TAB container and
the documented text interchange pair; the engine implements the text
pair (one ``.mif`` geometry file + one ``.mid`` attribute file — the
published spec, no GDAL):

* ``.mif`` — header (``VERSION`` / ``DELIMITER`` / ``COLUMNS n`` with
  ``name Type`` declarations / ``DATA``) followed by one geometry
  record per feature: ``POINT x y``, ``LINE x1 y1 x2 y2``,
  ``PLINE [MULTIPLE n] npts`` + coordinate lines, ``REGION nrings``
  with per-ring ``npts`` + coordinates, or ``NONE``.  Styling clauses
  (``SYMBOL``/``PEN``/``BRUSH``/``CENTER``/``SMOOTH``) are skipped on
  read and never written, like GDAL does without a style table.
* ``.mid`` — one delimiter-separated attribute row per feature
  (strings quoted), aligned with the MIF record order.

Column types map Char->string, Integer/Smallint->long, Float/Decimal->
double, Logical->boolean, Date->string; the COLUMNS block declares
them, so a column with no value in any row keeps its type.
Coordinates round trip bit-exactly (written via ``repr``); no winding
or closure normalization anywhere (the engine-wide format rule).

Modes: r / w / a ("raw", like the reference row).  Append validates
the existing COLUMNS block matches the frame schema, then extends both
files — MIF has no trailer, so appending is pure concatenation.

Driver-side parse into one typed frame (``drivers.rows_frame``);
writer encodes ``drivers.feature_rows`` (single-file driver-serial encode;
bulk exports belong in parquet/iceberg_like).
"""

from __future__ import annotations

import csv
import io
import os
import re

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import atomic_file, feature_rows, rows_frame

_STYLE = ("SYMBOL", "PEN", "BRUSH", "CENTER", "SMOOTH", "FONT")


def _mid_path(path: str) -> str:
    base, ext = os.path.splitext(path)
    return base + (".MID" if ext.isupper() else ".mid")


def _parse_header(lines: list[str]):
    """-> (delimiter, [(name, miftype)], index of first DATA record)."""
    delim = "\t"            # spec default when no DELIMITER clause
    columns: list[tuple[str, str]] = []
    i = 0
    while i < len(lines):
        u = lines[i].strip()
        up = u.upper()
        if up.startswith("DELIMITER"):
            m = re.search(r'"(.)"', u)
            if m:
                delim = m.group(1)
        elif up.startswith("COLUMNS"):
            ncols = int(u.split()[1])
            for k in range(ncols):
                parts = lines[i + 1 + k].strip().split(None, 1)
                columns.append((parts[0], parts[1] if len(parts) > 1
                                else "Char(254)"))
            i += ncols
        elif up == "DATA":
            return delim, columns, i + 1
        i += 1
    raise DriverError("MIF file has no DATA section")


#: MIF column type -> (Spark type, value parser); any other is a string
_TYPES = {"integer": (T.LongType(), int), "smallint": (T.LongType(), int),
          "float": (T.DoubleType(), float),
          "decimal": (T.DoubleType(), float),
          "logical": (T.BooleanType(),
                      lambda v: v.strip().upper() in ("T", "TRUE", "1"))}


def read_mapinfo(spark, path: str) -> DataFrame:
    """Open a MIF/MID pair as a ring-model DataFrame (pass the .mif
    path; the .mid sidecar is located next to it)."""
    with open(path, encoding="utf-8", errors="replace") as f:
        lines = f.read().splitlines()
    delim, columns, start = _parse_header(lines)
    geoms: list[tuple] = []          # (geom_type, rings_xs, rings_ys)
    i, n = start, len(lines)

    def _pts(count: int, at: int):
        xs, ys = [], []
        for k in range(count):
            p = lines[at + k].split()
            xs.append(float(p[0])); ys.append(float(p[1]))
        return xs, ys, at + count

    while i < n:
        u = lines[i].strip()
        if not u:
            i += 1
            continue
        up = u.upper()
        if up.startswith(_STYLE):
            i += 1
            continue
        parts = u.split()
        kind = parts[0].upper()
        if kind == "NONE":
            geoms.append((None, None, None)); i += 1
        elif kind == "POINT":
            geoms.append(("Point", [[float(parts[1])]],
                          [[float(parts[2])]])); i += 1
        elif kind == "LINE":
            geoms.append(("LineString",
                          [[float(parts[1]), float(parts[3])]],
                          [[float(parts[2]), float(parts[4])]]))
            i += 1
        elif kind == "PLINE":
            if len(parts) > 1 and parts[1].upper() == "MULTIPLE":
                nsec = int(parts[2])
                rxs, rys = [], []
                i += 1
                for _s in range(nsec):
                    cnt = int(lines[i].split()[0])
                    xs, ys, i = _pts(cnt, i + 1)
                    rxs.append(xs); rys.append(ys)
                geoms.append(("MultiLineString", rxs, rys))
            else:
                cnt = int(parts[1]) if len(parts) > 1 else int(
                    lines[i + 1].split()[0])
                at = i + 1 if len(parts) > 1 else i + 2
                xs, ys, i = _pts(cnt, at)
                geoms.append(("LineString", [xs], [ys]))
        elif kind == "REGION":
            nrings = int(parts[1])
            rxs, rys = [], []
            i += 1
            for _r in range(nrings):
                cnt = int(lines[i].split()[0])
                xs, ys, i = _pts(cnt, i + 1)
                rxs.append(xs); rys.append(ys)
            geoms.append(("Polygon", rxs, rys))
        else:
            raise DriverError(f"unsupported MIF record {parts[0]!r} "
                              f"at line {i + 1}")
    mid = _mid_path(path)
    attrs: list[list] = []
    if columns and os.path.exists(mid):
        with open(mid, encoding="utf-8", errors="replace") as f:
            rdr = csv.reader(f, delimiter=delim, quotechar='"')
            attrs = [row for row in rdr if row]
    specs = [(nm, *_TYPES.get(tp.split("(")[0].strip().lower(),
                              (T.StringType(), str))) for nm, tp in columns]
    rows = []
    for k, (gt, rxs, rys) in enumerate(geoms):
        row = {"fid": k, "geom_type": gt,
               "rings_xs": rxs, "rings_ys": rys}
        vals = attrs[k] if k < len(attrs) else []
        for c, (nm, _t, parse) in enumerate(specs):
            row[nm] = parse(vals[c]) if c < len(vals) and vals[c] else None
        rows.append(row)
    if not rows:
        raise DriverError(f"no MIF records in {path!r}")
    return rows_frame(spark, rows, {
        "fid": T.LongType(), **{nm: t for nm, t, _p in specs}})


def _mif_type(spark_t: str) -> str:
    if spark_t in ("bigint", "int", "smallint", "tinyint"):
        return "Integer"
    if spark_t in ("double", "float"):
        return "Float"
    if spark_t == "boolean":
        return "Logical"
    return "Char(254)"


def _geom_record(gt, rxs, rys) -> str:
    if gt is None or not rxs:
        return "NONE\n"
    out = io.StringIO()
    if gt == "Point":
        out.write(f"POINT {rxs[0][0]!r} {rys[0][0]!r}\n")
    elif gt == "LineString":
        out.write(f"PLINE {len(rxs[0])}\n")
        for x, y in zip(rxs[0], rys[0]):
            out.write(f"{x!r} {y!r}\n")
    elif gt == "MultiLineString":
        out.write(f"PLINE MULTIPLE {len(rxs)}\n")
        for xs, ys in zip(rxs, rys):
            out.write(f"{len(xs)}\n")
            for x, y in zip(xs, ys):
                out.write(f"{x!r} {y!r}\n")
    elif gt in ("Polygon", "MultiPolygon"):
        out.write(f"REGION {len(rxs)}\n")
        for xs, ys in zip(rxs, rys):
            out.write(f"{len(xs)}\n")
            for x, y in zip(xs, ys):
                out.write(f"{x!r} {y!r}\n")
    else:
        raise DriverError(f"MIF cannot store {gt!r}")
    return out.getvalue()


def write_mapinfo(df: DataFrame, path: str, mode: str = "w",
                  delimiter: str = ",") -> None:
    """MIF/MID pair sink over ``drivers.feature_rows``; ``mode='a'``
    appends (COLUMNS must match), ``mode='w'`` writes both files
    through ``drivers.atomic_file``.

    THROUGHPUT CEILING: one text-file pair = driver-serial encode;
    bulk exports belong in parquet/iceberg_like.
    """
    props, rows = feature_rows(df)
    mid = _mid_path(path)
    if mode == "a":
        with open(path, encoding="utf-8", errors="replace") as f:
            head = f.read().splitlines()
        delim, columns, _start = _parse_header(head)
        if [c for c, _ in columns] != [c for c, _ in props]:
            raise DriverError(
                f"append schema mismatch: file has "
                f"{[c for c, _ in columns]}, frame has "
                f"{[c for c, _ in props]}")
        with open(path, "a", encoding="utf-8") as fm, \
                open(mid, "a", encoding="utf-8", newline="") as fa:
            _write_records(fm, fa, props, rows, delim)
    elif mode == "w":
        with atomic_file(path) as tm, atomic_file(mid) as ta, \
                open(tm, "w", encoding="utf-8") as fm, \
                open(ta, "w", encoding="utf-8", newline="") as fa:
            fm.write("VERSION 300\nCharset \"Neutral\"\n")
            fm.write(f'DELIMITER "{delimiter}"\n')
            fm.write(f"COLUMNS {len(props)}\n")
            for c, t in props:
                fm.write(f"  {c} {_mif_type(t)}\n")
            fm.write("DATA\n")
            _write_records(fm, fa, props, rows, delimiter)
    else:
        raise DriverError(f"unsupported mode {mode!r}")


def _write_records(fm, fa, props, rows, delimiter: str) -> None:
    """One MIF geometry record and one MID attribute row per feature."""
    w = csv.writer(fa, delimiter=delimiter, quotechar='"',
                   quoting=csv.QUOTE_NONNUMERIC, lineterminator="\n")
    for d in rows:
        fm.write(_geom_record(d.get("geom_type"),
                              d.get("rings_xs"), d.get("rings_ys")))
        vals = []
        for c, t in props:
            v = d.get(c)
            if v is None:
                vals.append("")
            elif t == "boolean":
                vals.append("T" if v else "F")
            elif isinstance(v, float):
                vals.append(v)
            elif t in ("bigint", "int", "smallint", "tinyint"):
                vals.append(v)
            else:
                vals.append(str(v))
        if props:
            w.writerow(vals)
