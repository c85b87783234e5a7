"""OGR-style SQLite source + sink — reference parity for the SQLite
row (`fiona/drvsupport.py:129` ``("SQLite", "raw")``).

GDAL's SQLite driver (non-SpatiaLite flavor) stores features in plain
SQLite tables: an ``OGC_FID INTEGER PRIMARY KEY``, a ``GEOMETRY`` blob
column holding standard WKB, property columns with SQLite affinities,
and a ``geometry_columns`` registry table
(``f_table_name / f_geometry_column / geometry_type /
coord_dimension / srid / geometry_format``) with
``geometry_format = 'WKB'``.  That layout is what this module reads
and writes — the geometry payload goes through the engine's own WKB
codec (`fiona_spark/wkb.py`), so round trips are bit-exact.

Read path: layer rows fetch on the driver (one SQLite file has no
splittable framing), geometry DECODE runs distributed via one
``mapInArrow`` over the blob column — the r4 single-file-format
convention (see README module notes).  Writer/appender encode
``drivers.feature_rows``.

Modes: r / w / a ("raw", matching the reference row).

THROUGHPUT CEILING: one SQLite file = driver-serial encode; bulk
exports belong in parquet/iceberg_like.
"""

from __future__ import annotations

import sqlite3

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..errors import DriverError
from ..schema import RINGS_STRUCT, with_ring_columns
from .drivers import feature_rows, first_geom_type, ring_schema

_OGR_GEOM_CODE = {"Point": 1, "LineString": 2, "Polygon": 3,
                  "MultiPoint": 4, "MultiLineString": 5,
                  "MultiPolygon": 6}

_SQLITE_T = {"string": "VARCHAR", "bigint": "INTEGER", "int": "INTEGER",
             "smallint": "INTEGER", "tinyint": "INTEGER",
             "boolean": "INTEGER", "double": "FLOAT", "float": "FLOAT",
             "binary": "BLOB", "date": "VARCHAR",
             "timestamp": "VARCHAR"}


def listlayers_sqlite(path: str) -> list[str]:
    with sqlite3.connect(path) as con:
        has = con.execute("SELECT name FROM sqlite_master WHERE "
                          "name = 'geometry_columns'").fetchone()
        if not has:
            return []
        return [r[0] for r in con.execute(
            "SELECT f_table_name FROM geometry_columns").fetchall()]


def read_sqlite(spark, path: str, layer: str | None = None) -> DataFrame:
    """Open one layer of an OGR-style SQLite DB as a ring-model frame."""
    layers = listlayers_sqlite(path)
    if not layers:
        raise DriverError(f"no feature layers in {path!r} "
                          "(no geometry_columns registry)")
    if layer is None:
        layer = layers[0]
    if layer not in layers:
        raise DriverError(f"no such layer {layer!r} (have {layers})")
    with sqlite3.connect(path) as con:
        gc = con.execute(
            "SELECT f_geometry_column FROM geometry_columns "
            "WHERE f_table_name = ?", (layer,)).fetchone()
        return layer_frame(spark, con, layer,
                           con.execute(f'SELECT * FROM "{layer}"'),
                           gc[0], bytes)


def _affinity(decl: str) -> T.DataType:
    """SQLite's affinity of a declared column type as a Spark type: INT
    -> bigint, REAL/FLOA/DOUB -> double, BLOB -> binary, else string."""
    d = decl.upper()
    if "INT" in d:
        return T.LongType()
    if any(k in d for k in ("REAL", "FLOA", "DOUB")):
        return T.DoubleType()
    return T.BinaryType() if "BLOB" in d else T.StringType()


def layer_frame(spark, con, layer: str, cur, geom_col: str,
                to_wkb) -> DataFrame:
    """One SQLite feature table (rows of ``cur``, fetched on the driver)
    as a ring-model frame, for the SQLite and GeoPackage readers;
    ``to_wkb`` maps a ``geom_col`` blob to WKB (``None``: EMPTY) in one
    distributed ``mapInArrow`` decode that passes the other columns
    through untouched.  A column of INTEGER affinity
    (``PRAGMA table_info``) reads as bigint with its exact values, NULLs
    or not, and raises on a value that is not an integer; a column NULL
    in every row takes its declared affinity."""
    names = [d[0] for d in cur.description]
    decl = {r[1]: r[2] for r in con.execute(f'PRAGMA table_info("{layer}")')}
    decl[geom_col] = "BLOB"
    data = cur.fetchall()
    pdf = pd.DataFrame(data, columns=names)
    for i, c in enumerate(names):
        if isinstance(_affinity(decl.get(c) or ""), T.LongType):
            vals = [r[i] for r in data]
            bad = [v for v in vals if v is not None
                   and not isinstance(v, int)]
            if bad:
                raise DriverError(f"{layer}.{c}: INTEGER column holds "
                                  f"the non-integer {bad[0]!r}")
            pdf[c] = pd.array(vals, dtype="Int64")
    pdf[geom_col] = pdf[geom_col].map(
        lambda b: bytes(b) if b is not None else None)
    src = spark.createDataFrame(pdf)
    src = src.withColumns({
        f.name: F.lit(None).cast(_affinity(decl.get(f.name) or ""))
        for f in src.schema.fields if isinstance(f.dataType, T.NullType)})
    out_schema = ring_schema({f.name: f.dataType for f in src.schema.fields
                              if f.name != geom_col})

    keep = [n for n in out_schema.names if n not in RINGS_STRUCT.names]

    def run(batches):
        import pyarrow as pa

        from .. import model, wkb
        ring_t = pa.list_(pa.list_(pa.float64()))
        for b in batches:
            geo = []
            for blob in b.column(geom_col).to_pylist():
                wkb_bytes = None if blob is None else to_wkb(blob)
                geo.append((None, None, None) if wkb_bytes is None else
                           model.rings_from_geometry(wkb.decode(wkb_bytes)))
            t, rxs, rys = (list(c) for c in zip(*geo)) if geo \
                else ([], [], [])
            yield pa.RecordBatch.from_arrays(
                [b.column(n) for n in keep]
                + [pa.array(t, pa.string()), pa.array(rxs, ring_t),
                   pa.array(rys, ring_t)], names=out_schema.names)

    return with_ring_columns(src.mapInArrow(run, out_schema))


def write_sqlite(df: DataFrame, path: str, layer: str = "features",
                 mode: str = "w", srid: int = 4326) -> None:
    """OGR-layout SQLite sink; ``mode='a'`` appends to an existing
    layer (property columns must already exist)."""
    from .. import model, wkb

    gcode = _OGR_GEOM_CODE.get(first_geom_type(df), 0)
    props, rows = feature_rows(df)
    con = sqlite3.connect(path)
    try:
        if mode == "w":
            con.execute("""CREATE TABLE IF NOT EXISTS geometry_columns (
                f_table_name VARCHAR, f_geometry_column VARCHAR,
                geometry_type INTEGER, coord_dimension INTEGER,
                srid INTEGER, geometry_format VARCHAR)""")
            cols = ", ".join(f'"{c}" {_SQLITE_T.get(t, "VARCHAR")}'
                             for c, t in props)
            con.execute(f'DROP TABLE IF EXISTS "{layer}"')
            con.execute(
                f'CREATE TABLE "{layer}" (OGC_FID INTEGER PRIMARY KEY '
                f'AUTOINCREMENT, GEOMETRY BLOB'
                f'{", " + cols if cols else ""})')
            con.execute("DELETE FROM geometry_columns "
                        "WHERE f_table_name = ?", (layer,))
            con.execute("INSERT INTO geometry_columns VALUES "
                        "(?, 'GEOMETRY', ?, 2, ?, 'WKB')",
                        (layer, gcode, srid))
        elif mode == "a":
            have = con.execute(
                "SELECT name FROM sqlite_master WHERE name = ?",
                (layer,)).fetchone()
            if not have:
                raise DriverError(f"append target layer {layer!r} "
                                  f"does not exist in {path!r}")
        else:
            raise DriverError(f"unsupported mode {mode!r}")
        names = [c for c, _t in props]
        ph = ", ".join(["?"] * (len(names) + 1))
        collist = ", ".join(["GEOMETRY"] + [f'"{n}"' for n in names])
        insert = f'INSERT INTO "{layer}" ({collist}) VALUES ({ph})'
        for d in rows:
            g = model.geometry_from_rings(d.get("geom_type") or "Polygon",
                                          d.get("rings_xs"),
                                          d.get("rings_ys"))
            blob = wkb.encode(dict(g)) if g is not None else None
            con.execute(insert, [blob] + [d.get(n) for n in names])
        con.commit()
    finally:
        con.close()
