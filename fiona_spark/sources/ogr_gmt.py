"""OGR GMT ASCII vector source + sink — reference parity for the
GMT rows (`fiona/drvsupport.py:73-75` ``("GMT", "rw")`` /
``("OGR_GMT", "rw")``).

The GMT vector format is plain text.  Header comments declare the
layer (`# @VGMT1.0 @GPOLYGON`), the attribute names (`# @Nname|...`)
and types (`# @Tdouble|...`); each feature starts at a ``>`` segment
marker followed by a ``# @D v1|v2`` attribute line; additional ``>``
segments WITHIN the feature (marked ``# @P`` part / ``# @H`` hole)
carry extra rings; coordinate lines are ``x y`` pairs::

    # @VGMT1.0 @GPOLYGON
    # @Nname|value
    # @Tstring|double
    >
    # @D"zone a"|2.5
    0.0 0.0
    ...
    >
    # @H
    1.0 1.0
    ...

The engine ring model is a flat even-odd ring set, so @P parts and @H
holes both append rings (their even-odd classification is positional,
exactly how the PIP kernel consumes them).  Round trips are bit-exact
(coordinates print via ``repr``); no winding or closure normalization
anywhere on the path.

Driver-side parse into one typed frame (``drivers.rows_frame``; the
@T line declares the column types, so a column with no value in any
row keeps its type); the writer encodes ``drivers.feature_rows`` into
``drivers.atomic_file`` (single text file = driver-serial encode —
bulk exports belong in parquet/iceberg_like).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, types as T

from ..errors import DriverError
from .drivers import atomic_file, feature_rows, first_geom_type, rows_frame

_GTYPES = {
    "POINT": "Point", "MULTIPOINT": "MultiPoint",
    "LINESTRING": "LineString", "MULTILINESTRING": "MultiLineString",
    "POLYGON": "Polygon", "MULTIPOLYGON": "Polygon",
}
_WRITE_G = {"Point": "POINT", "MultiPoint": "MULTIPOINT",
            "LineString": "LINESTRING",
            "MultiLineString": "MULTILINESTRING",
            "Polygon": "POLYGON", "MultiPolygon": "MULTIPOLYGON"}


def _split_d(payload: str) -> list[str]:
    """Split a @D payload on ``|`` outside double quotes."""
    out, buf, q = [], [], False
    for ch in payload:
        if ch == '"':
            q = not q
        elif ch == "|" and not q:
            out.append("".join(buf)); buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return out


#: @T type -> (Spark type, value parser); any other is a string
_TYPES = {**dict.fromkeys(("double", "float"), (T.DoubleType(), float)),
          **dict.fromkeys(("integer", "int", "long"), (T.LongType(), int))}
_STRING = (T.StringType(), str)


def _coerce(val: str, typ: str):
    return None if val == "" else _TYPES.get(typ, _STRING)[1](val)


def read_gmt(spark, path: str) -> DataFrame:
    """Open a .gmt file as a ring-model DataFrame.

    Feature boundaries follow the format's two conventions: with
    attribute rows (``# @D``), the @D line STARTS a feature and bare
    ``>`` markers separate its rings (``# @P``/``# @H`` part/hole
    markers both append rings — the engine's ring model is a flat
    even-odd set); without attributes, every ``>`` segment is its own
    feature unless marked @P/@H.
    """
    names: list[str] = []
    types: list[str] = []
    gtype = None
    feats: list[dict] = []
    cur = None           # current feature dict
    ring_x: list[float] = []
    ring_y: list[float] = []
    pending = False      # a '>' opened a segment, kind undecided
    continuation = False # @P/@H since the '>': ring of SAME feature

    def flush_ring():
        nonlocal ring_x, ring_y
        if cur is not None and ring_x:
            cur["rings_xs"].append(ring_x)
            cur["rings_ys"].append(ring_y)
        ring_x, ring_y = [], []

    def flush_feature():
        nonlocal cur
        flush_ring()
        if cur is not None and (cur["rings_xs"] or len(cur) > 2):
            feats.append(cur)
        cur = None

    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            if line.startswith("#"):
                body = line[1:].strip()
                if body.startswith("@V"):
                    m = re.search(r"@G(\w+)", line)
                    if m:
                        gtype = _GTYPES.get(m.group(1).upper())
                elif body.startswith("@G"):
                    gtype = _GTYPES.get(body[2:].strip().upper())
                elif body.startswith("@N"):
                    names = body[2:].split("|")
                elif body.startswith("@T"):
                    types = body[2:].split("|")
                elif body.startswith(("@P", "@H")):
                    continuation = True
                elif body.startswith("@D"):
                    # attribute row STARTS a new feature
                    flush_feature()
                    vals = _split_d(body[2:])
                    cur = {"rings_xs": [], "rings_ys": []}
                    for k, nm in enumerate(names):
                        typ = types[k] if k < len(types) else "string"
                        cur[nm] = _coerce(
                            vals[k] if k < len(vals) else "", typ)
                    pending = False
                continue
            if line.startswith(">"):
                flush_ring()
                pending, continuation = True, False
                continue
            parts = line.split()
            if len(parts) < 2:
                raise DriverError(f"malformed GMT coordinate line: "
                                  f"{line!r}")
            if pending and not continuation and not names \
                    and cur is not None:
                # attribute-less file: each '>' segment = one feature
                flush_feature()
            pending = False
            if cur is None:
                cur = {"rings_xs": [], "rings_ys": []}
            ring_x.append(float(parts[0]))
            ring_y.append(float(parts[1]))
    flush_feature()
    if not feats:
        raise DriverError(f"no GMT features in {path!r}")
    if gtype is None:
        gtype = "LineString"
    rows = [{"fid": i, "geom_type": gtype, **ft}
            for i, ft in enumerate(feats)]
    return rows_frame(spark, rows, {"fid": T.LongType(), **{
        nm: _TYPES.get(t, _STRING)[0]
        for nm, t in zip(names, types + ["string"] * len(names))}})


def write_gmt(df: DataFrame, path: str) -> None:
    """Single-file OGR-GMT sink (reference mode parity: GMT is "rw")
    over ``drivers.feature_rows``.

    Property columns become @N/@T header declarations (double /
    integer / string); every feature writes ``>`` + ``# @D`` + its
    rings, later rings marked ``# @H`` so multi-ring polygons round
    trip.  THROUGHPUT CEILING: driver-serial single-file encode.
    """
    gtype = first_geom_type(df) or "LineString"
    code = _WRITE_G.get(gtype)
    if code is None:
        raise DriverError(f"GMT cannot store {gtype!r}")

    def _t(spark_t: str) -> str:
        if spark_t in ("double", "float"):
            return "double"
        if spark_t in ("bigint", "int", "smallint", "tinyint"):
            return "integer"
        return "string"

    props, rows = feature_rows(df)
    with atomic_file(path) as tmp, open(tmp, "w", encoding="utf-8") as f:
        f.write(f"# @VGMT1.0 @G{code}\n")
        if props:
            f.write("# @N" + "|".join(c for c, _ in props) + "\n")
            f.write("# @T" + "|".join(_t(t) for _, t in props) + "\n")
        f.write("# FEATURE_DATA\n")
        for d in rows:
            rxs, rys = d.get("rings_xs") or [], d.get("rings_ys") or []
            f.write(">\n")
            if props:
                vals = []
                for c, t in props:
                    v = d.get(c)
                    if v is None:
                        vals.append("")
                    elif t == "string" and ("|" in str(v)):
                        vals.append(f'"{v}"')
                    else:
                        vals.append(repr(v) if isinstance(v, float)
                                    else str(v))
                f.write("# @D" + "|".join(vals) + "\n")
            for k, (rx, ry) in enumerate(zip(rxs, rys)):
                if k > 0:
                    f.write(">\n# @H\n")
                for x, y in zip(rx, ry):
                    f.write(f"{x!r} {y!r}\n")
