"""GeoPackage (OGC .gpkg) feature source — reference parity for one of
the most-used drivers in the table (`fiona/drvsupport.py` GPKG row;
behavior contract `/root/reference/tests/test_geopackage.py`).

A GeoPackage is SQLite: ``gpkg_contents`` lists feature tables,
``gpkg_geometry_columns`` names each table's geometry column, and
geometry values are GeoPackageBinary blobs — an 8-byte-min header
(magic 'GP', version, flags with envelope indicator + empty bit,
srs_id) followed by standard WKB (GeoPackage spec section 2.1.3).

Spark shape: SQLite is a single-file random-access format, so the ROW
FETCH happens on the driver through stdlib ``sqlite3`` (no GDAL); the
per-feature GEOMETRY DECODE — GP header parse + WKB -> ring model via
the engine's codec — runs DISTRIBUTED in one ``mapInArrow`` over the
blob column (``sqlite_db.layer_frame``).  For cluster-scale data,
convert once to parquet with ``write_dataset``; this source exists for
parity and ingest.
"""

from __future__ import annotations

import sqlite3
import struct

from pyspark.sql import DataFrame, functions as F

from ..errors import DriverError
from .drivers import feature_rows
from .sqlite_db import layer_frame

_ENV_DOUBLES = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}


def parse_gpkg_blob(blob: bytes):
    """GeoPackageBinary -> (wkb_bytes | None, srs_id).  ``None`` marks
    the empty-geometry flag (spec 2.1.3 flags bit 4)."""
    if len(blob) < 8 or blob[0:2] != b"GP":
        raise DriverError("not a GeoPackageBinary blob (no 'GP' magic)")
    flags = blob[3]
    little = bool(flags & 0x01)
    env_ind = (flags >> 1) & 0x07
    if env_ind not in _ENV_DOUBLES:
        raise DriverError(f"invalid envelope indicator {env_ind}")
    empty = bool(flags & 0x10)
    srs_id = struct.unpack("<i" if little else ">i", blob[4:8])[0]
    off = 8 + 8 * _ENV_DOUBLES[env_ind]
    return (None if empty else bytes(blob[off:])), srs_id


def build_gpkg_blob(wkb_bytes: bytes | None, srs_id: int = 4326,
                    envelope=None) -> bytes:
    """Inverse of :func:`parse_gpkg_blob` (little-endian header):
    used by the tests' fixture builder and a future writer."""
    env_ind = 1 if envelope is not None else 0
    flags = 0x01 | (env_ind << 1)
    if wkb_bytes is None:
        flags |= 0x10
        wkb_bytes = b""
    head = b"GP" + bytes([0, flags]) + struct.pack("<i", srs_id)
    if envelope is not None:
        head += struct.pack("<4d", *envelope)
    return head + wkb_bytes


def listlayers_gpkg(path: str) -> list[str]:
    """Feature-table names from ``gpkg_contents`` (fiona.listlayers on
    a .gpkg path)."""
    with sqlite3.connect(path) as con:
        rows = con.execute(
            "SELECT table_name FROM gpkg_contents "
            "WHERE data_type = 'features' ORDER BY table_name").fetchall()
    return [r[0] for r in rows]


def read_geopackage(spark, path: str, layer: str | None = None,
                    bbox=None) -> DataFrame:
    """Open one feature layer as a DataFrame in the engine ring model
    (fid, geom_type, rings_xs, rings_ys, properties..., envelope).

    ``bbox=(xmin, ymin, xmax, ymax)`` prunes rows BEFORE decode: when
    the layer has the spec's ``gpkg_rtree_index`` extension (the
    ``rtree_<table>_<column>`` virtual table GDAL and this engine's
    ``write_geopackage(..., spatial_index=True)`` maintain), the rtree
    join selects candidates inside SQLite; either way an exact
    envelope filter runs after decode (the rtree stores outward-rounded
    float32 boxes, so its hits are a slight superset by design)."""
    layers = listlayers_gpkg(path)
    if not layers:
        raise DriverError(f"no feature layers in {path!r}")
    if layer is None:
        layer = layers[0]
    if layer not in layers:
        raise DriverError(f"no such layer {layer!r} (have {layers})")
    with sqlite3.connect(path) as con:
        gc = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns "
            "WHERE table_name = ?", (layer,)).fetchone()
        if gc is None:
            raise DriverError(f"{layer!r} has no geometry column entry")
        geom_col = gc[0]
        rtree = f"rtree_{layer}_{geom_col}"
        use_idx = bbox is not None and con.execute(
            "SELECT name FROM sqlite_master WHERE name = ?",
            (rtree,)).fetchone() is not None
        if use_idx:
            cur = con.execute(
                f'SELECT t.* FROM "{layer}" t JOIN "{rtree}" r '
                f'ON t.fid = r.id WHERE r.minx <= ? AND r.maxx >= ? '
                f'AND r.miny <= ? AND r.maxy >= ?',
                (bbox[2], bbox[0], bbox[3], bbox[1]))
        else:
            cur = con.execute(f'SELECT * FROM "{layer}"')
        out = layer_frame(spark, con, layer, cur, geom_col,
                          lambda blob: parse_gpkg_blob(blob)[0])
    if bbox is not None:
        out = out.filter((F.col("xmin") <= bbox[2])
                         & (F.col("xmax") >= bbox[0])
                         & (F.col("ymin") <= bbox[3])
                         & (F.col("ymax") >= bbox[1]))
    return out


_SQLITE_T = {"string": "TEXT", "bigint": "INTEGER", "int": "INTEGER",
             "smallint": "INTEGER", "tinyint": "INTEGER",
             "boolean": "INTEGER",
             "double": "REAL", "float": "REAL", "binary": "BLOB",
             "date": "TEXT", "timestamp": "TEXT"}

def write_geopackage(df: DataFrame, path: str, layer: str = "features",
                     mode: str = "w", srs_id: int = 4326,
                     spatial_index: bool = False) -> None:
    """Single-file GeoPackage sink (the reference's GPKG 'raw' modes).

    A .gpkg is one SQLite file, so this is a driver-side writer by
    nature — it encodes ``drivers.feature_rows`` (one partition in
    memory at a time, never the whole table; the same shape as a
    coalesce(1) single-file write).  Ring-model geometry columns
    encode through the engine's WKB codec into GeoPackageBinary blobs
    with envelopes; remaining columns map to SQLite types.
    ``mode='a'`` appends to an existing layer.

    THROUGHPUT CEILING: one SQLite file means driver-serial encode
    (~single-core, same as the reference's one-GDAL-handle writes).
    Streaming bounds driver MEMORY only — route bulk exports through
    partitioned parquet / ``sources.iceberg_like`` instead.

    ``spatial_index=True`` maintains the spec's ``gpkg_rtree_index``
    extension (``rtree_<layer>_geom`` virtual table + a
    ``gpkg_extensions`` row), enabling ``read_geopackage(bbox=...)``
    pruning inside SQLite; appends to a layer that already has the
    rtree keep it up to date regardless of the flag.
    """
    from .. import model, wkb

    props, rows = feature_rows(df)
    con = sqlite3.connect(path)
    try:
        if mode == "w":
            con.execute("""CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
                srs_name TEXT, srs_id INTEGER PRIMARY KEY,
                organization TEXT, organization_coordsys_id INTEGER,
                definition TEXT)""")
            con.execute("INSERT OR IGNORE INTO gpkg_spatial_ref_sys "
                        "VALUES ('WGS 84', ?, 'EPSG', ?, 'GEOGCS')",
                        (srs_id, srs_id))
            con.execute("""CREATE TABLE IF NOT EXISTS gpkg_contents (
                table_name TEXT PRIMARY KEY, data_type TEXT,
                identifier TEXT, srs_id INTEGER)""")
            con.execute("""CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
                table_name TEXT, column_name TEXT,
                geometry_type_name TEXT, srs_id INTEGER,
                z TINYINT, m TINYINT)""")
            cols = ", ".join(f'"{c}" {_SQLITE_T.get(t, "TEXT")}'
                             for c, t in props)
            con.execute(f'DROP TABLE IF EXISTS "{layer}"')
            con.execute(f'CREATE TABLE "{layer}" '
                        f'(fid INTEGER PRIMARY KEY AUTOINCREMENT, '
                        f'geom BLOB{", " + cols if cols else ""})')
            con.execute("DELETE FROM gpkg_contents WHERE table_name = ?",
                        (layer,))
            con.execute("INSERT INTO gpkg_contents VALUES "
                        "(?, 'features', ?, ?)", (layer, layer, srs_id))
            con.execute("DELETE FROM gpkg_geometry_columns "
                        "WHERE table_name = ?", (layer,))
            con.execute("INSERT INTO gpkg_geometry_columns VALUES "
                        "(?, 'geom', 'GEOMETRY', ?, 0, 0)",
                        (layer, srs_id))
        elif mode != "a":
            raise DriverError(f"unsupported mode {mode!r}")
        rtree = f"rtree_{layer}_geom"
        has_rtree = con.execute(
            "SELECT name FROM sqlite_master WHERE name = ?",
            (rtree,)).fetchone() is not None
        if spatial_index and not has_rtree:
            con.execute(f'CREATE VIRTUAL TABLE "{rtree}" USING '
                        'rtree(id, minx, maxx, miny, maxy)')
            con.execute("""CREATE TABLE IF NOT EXISTS gpkg_extensions (
                table_name TEXT, column_name TEXT, extension_name TEXT,
                definition TEXT, scope TEXT)""")
            con.execute(
                "INSERT INTO gpkg_extensions VALUES "
                "(?, 'geom', 'gpkg_rtree_index', "
                "'http://www.geopackage.org/spec/#extension_rtree', "
                "'write-only')", (layer,))
            has_rtree = True
            # Creating the index on an EXISTING layer (append mode to a
            # table written without one): BACKFILL it from the stored
            # geometries first, or rtree-routed bbox reads would
            # silently drop every pre-existing feature (r5 advice).
            # Mode 'w' just recreated the table, so this scans nothing.
            for fid, blob in con.execute(
                    f'SELECT fid, geom FROM "{layer}"'):
                if blob is None:
                    continue
                wkb_bytes, _srs = parse_gpkg_blob(blob)
                if wkb_bytes is None:
                    continue
                _t, bxs, bys = model.rings_from_geometry(
                    wkb.decode(wkb_bytes))
                if not bxs:
                    continue
                con.execute(
                    f'INSERT INTO "{rtree}" VALUES (?, ?, ?, ?, ?)',
                    (fid,
                     min(min(r) for r in bxs), max(max(r) for r in bxs),
                     min(min(r) for r in bys), max(max(r) for r in bys)))
        names = [c for c, _t in props]
        ph = ", ".join(["?"] * (len(names) + 1))
        collist = ", ".join(["geom"] + [f'"{n}"' for n in names])
        insert = f'INSERT INTO "{layer}" ({collist}) VALUES ({ph})'
        for d in rows:
            g = model.geometry_from_rings(d.get("geom_type") or "Polygon",
                                          d.get("rings_xs"),
                                          d.get("rings_ys"))
            blob = build_gpkg_blob(
                None if g is None else wkb.encode(dict(g)), srs_id)
            cur = con.execute(insert, [blob] + [d.get(n) for n in names])
            if has_rtree and d.get("xmin") is not None:
                con.execute(
                    f'INSERT INTO "{rtree}" VALUES (?, ?, ?, ?, ?)',
                    (cur.lastrowid,
                     d["xmin"], d["xmax"], d["ymin"], d["ymax"]))
        con.commit()
    finally:
        con.close()
