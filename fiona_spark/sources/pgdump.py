r"""PostgreSQL SQL-dump sink (PGDump) — reference parity for the
commented ``PGDump`` row of the driver table
(`fiona/drvsupport.py:113`: "PGDump | PostgreSQL SQL dump | Yes Yes
Yes").  GDAL's PGDump driver is WRITE-ONLY: it emits a ``psql``-ready
script (CREATE TABLE + AddGeometryColumn + COPY ... FROM STDIN) rather
than talking to a server — exactly the shape produced here, so the
output loads with ``psql -f dump.sql`` into a PostGIS database.

Layout (the GDAL PGDump conventions):

.. code-block:: sql

    SET standard_conforming_strings = ON;
    DROP TABLE IF EXISTS "public"."layer" CASCADE;
    BEGIN;
    CREATE TABLE "public"."layer" ("ogc_fid" SERIAL,
        CONSTRAINT "layer_pk" PRIMARY KEY ("ogc_fid"));
    SELECT AddGeometryColumn('public','layer','wkb_geometry',4326,
                             'POLYGON',2);
    CREATE INDEX ... USING GIST ("wkb_geometry");
    ALTER TABLE "public"."layer" ADD COLUMN "name" VARCHAR;
    COPY "public"."layer" ("wkb_geometry", "name") FROM STDIN;
    01030000...\tAlpha
    \.
    COMMIT;

Geometry rows emit hex EWKB (little-endian WKB with the PostGIS
0x20000000 SRID flag and the SRID word spliced after the type — SRID
at the top level only, the PostGIS convention).  COPY text escaping
follows the PostgreSQL spec: ``\\N`` for NULL, backslash/tab/newline
escaped.

Single-file sink -> r4 convention: encodes ``drivers.feature_rows``
into ``drivers.atomic_file`` (driver-serial ceiling documented; bulk
exports belong in parquet).
Write-only like the reference driver — opening a ``.sql`` for read
raises ``DriverError``.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame

from .. import model, wkb as wkbmod
from ..errors import DriverError
from ..schema import with_rings
from .drivers import atomic_file, feature_rows

__all__ = ["write_pgdump"]

_PG_TYPES = {
    "string": "VARCHAR",
    "double": "FLOAT8",
    "float": "FLOAT4",
    "bigint": "INT8",
    "int": "INT4",
    "smallint": "INT2",
    "tinyint": "INT2",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "date": "DATE",
    "binary": "BYTEA",
    "decimal": "NUMERIC",
    "array<double>": "FLOAT8[]",
    "array<bigint>": "INT8[]",
    "array<int>": "INT4[]",
    "array<string>": "VARCHAR[]",
}


def _pg_type(spark_type: str) -> str:
    base = spark_type.split("(")[0]
    t = _PG_TYPES.get(spark_type) or _PG_TYPES.get(base)
    if t is None:
        raise DriverError(
            f"PGDump cannot map Spark type {spark_type!r} "
            f"(supported: {sorted(_PG_TYPES)})")
    return t


def _copy_escape(text: str) -> str:
    return (text.replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r"))


def _copy_value(val, spark_type: str) -> str:
    if val is None:
        return "\\N"
    if spark_type == "boolean":
        return "t" if val else "f"
    if spark_type == "binary":
        return "\\\\x" + bytes(val).hex()
    if spark_type.startswith("array<"):
        # each element is double-quoted per the Postgres array-literal
        # rules (backslash and double-quote escaped inside), THEN the
        # assembled literal is COPY-escaped — an element containing a
        # comma/brace/quote/space would otherwise split or break the
        # array on restore (r7 ADVICE)
        inner = ",".join(
            "NULL" if v is None else
            '"' + str(v).replace("\\", "\\\\").replace('"', '\\"') + '"'
            for v in val)
        return _copy_escape("{" + inner + "}")
    return _copy_escape(str(val))


def _ewkb_hex(geom_type: str, rings_xs, rings_ys, srid: int) -> str:
    g = model.geometry_from_rings(geom_type, rings_xs, rings_ys)
    data = wkbmod.encode({"type": g.type, "coordinates": g.coordinates})
    # splice the PostGIS SRID extension into the top-level header
    code = struct.unpack_from("<I", data, 1)[0]
    return (data[:1]
            + struct.pack("<I", code | 0x20000000)
            + struct.pack("<I", srid)
            + data[5:]).hex()


_PG_GEOM = {"point": "POINT", "multipoint": "MULTIPOINT",
            "linestring": "LINESTRING",
            "multilinestring": "MULTILINESTRING",
            "polygon": "POLYGON", "multipolygon": "MULTIPOLYGON",
            "geometrycollection": "GEOMETRYCOLLECTION"}


def write_pgdump(df: DataFrame, path: str, layer: str | None = None,
                 schema: str = "public",
                 geometry_name: str = "wkb_geometry",
                 srid: int = 4326, spatial_index: bool = True) -> None:
    """Emit the frame as a psql-ready PostGIS dump.

    Ring-model geometry columns become one hex-EWKB geometry column;
    property columns map onto PostgreSQL types.  ``layer`` defaults to
    the file stem.
    """
    layer = layer or os.path.splitext(os.path.basename(path))[0]
    frame = with_rings(df)   # once: feature_rows passes it through
    has_geom = "rings_xs" in frame.columns and "geom_type" in frame.columns
    props, rows = feature_rows(frame)
    pg_cols = [(name, _pg_type(t)) for name, t in props]

    # layer geometry type: the distinct geom_type values, or GEOMETRY
    gtype = "GEOMETRY"
    if has_geom:
        kinds = {(r[0] or "").lower() for r in
                 frame.select("geom_type").distinct().collect()}
        kinds.discard("")
        mapped = {_PG_GEOM.get(k) for k in kinds}
        if None in mapped:
            unknown = [k for k in kinds if k not in _PG_GEOM]
            raise DriverError(f"PGDump: unsupported geometry types "
                              f"{sorted(unknown)}")
        if len(mapped) == 1:
            gtype = mapped.pop()

    qlayer = f'"{schema}"."{layer}"'
    copy_cols = ([f'"{geometry_name}"'] if has_geom else []) + \
        [f'"{n}"' for n, _t in pg_cols]
    with atomic_file(path) as tmp, open(tmp, "w", encoding="utf-8") as fh:
        w = fh.write
        w("SET standard_conforming_strings = ON;\n")
        w(f'DROP TABLE IF EXISTS {qlayer} CASCADE;\n')
        w("BEGIN;\n")
        w(f'CREATE TABLE {qlayer} ("ogc_fid" SERIAL, '
          f'CONSTRAINT "{layer}_pk" PRIMARY KEY ("ogc_fid"));\n')
        if has_geom:
            w(f"SELECT AddGeometryColumn('{schema}','{layer}',"
              f"'{geometry_name}',{srid},'{gtype}',2);\n")
            if spatial_index:
                w(f'CREATE INDEX "{layer}_{geometry_name}_geom_idx" '
                  f'ON {qlayer} USING GIST ("{geometry_name}");\n')
        for name, pg_t in pg_cols:
            w(f'ALTER TABLE {qlayer} ADD COLUMN "{name}" {pg_t};\n')
        w(f'COPY {qlayer} ({", ".join(copy_cols)}) FROM STDIN;\n')
        for d in rows:
            vals = []
            if has_geom:
                gt, rxs = d["geom_type"], d["rings_xs"]
                vals.append("\\N" if gt is None or rxs is None else
                            _ewkb_hex(gt, rxs, d["rings_ys"], srid))
            vals += [_copy_value(d[n], t) for n, t in props]
            w("\t".join(vals) + "\n")
        w("\\.\n")
        w("COMMIT;\n")
