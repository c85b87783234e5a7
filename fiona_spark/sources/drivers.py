"""Driver registry + format-from-extension inference + encoding fallback.

The reference maintains a 52-entry driver table with per-driver mode
capabilities (`fiona/drvsupport.py:10-230`) and infers the driver from
the path extension (`fiona/drvsupport.py:231-254` driver_from_extension);
its encoding rule is: trust UTF-8-capable layers, else fall back to a
format-specific default — ISO-8859-1 for shapefiles
(`fiona/ogrext.pyx:940-983`).

Spark-side, a "driver" is a reader/writer pair over a DataFrame; the
formats below are the ones a Spark cluster natively executes (parquet /
csv / json / text) plus the engine's GeoJSON feature-sequence shapes.
Unknown extensions raise DriverError, mirroring the reference's
"no driver for extension" error.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, functions as F, types as T

from ..errors import DriverError
from ..schema import RING_COLS, RINGS_STRUCT, with_ring_columns, with_rings

# name -> (reader, writer, modes)
_REGISTRY: dict = {}


def register_driver(name: str, reader, writer, modes: str = "rw") -> None:
    _REGISTRY[name] = (reader, writer, modes)


def supported_drivers() -> dict[str, str]:
    """name -> modes, like fiona.drvsupport.supported_drivers."""
    return {k: v[2] for k, v in sorted(_REGISTRY.items())}


def check_mode(name: str, mode: str) -> None:
    """Gate a driver on the requested IO mode, the reference's
    collection-open rule (`fiona/collection.py`: unsupported driver ->
    DriverError, then mode not in supported_drivers[driver] ->
    DriverError; capability table `fiona/drvsupport.py:16-178`).
    Modes: 'r' read, 'w' write/overwrite, 'a' append."""
    if name not in _REGISTRY:
        raise DriverError(f"unsupported driver: {name!r}")
    if mode not in ("r", "w", "a"):
        raise DriverError(f"unsupported mode: {mode!r}")
    modes = _REGISTRY[name][2]
    if mode not in modes:
        raise DriverError(
            f"unsupported mode {mode!r} for driver {name!r} "
            f"(supports {modes!r})")


_EXT_TO_DRIVER = {
    ".parquet": "parquet", ".pq": "parquet",
    ".orc": "orc",
    ".topojson": "topojson",
    ".fgb": "flatgeobuf",
    ".gdb": "openfilegdb",
    ".gpkg": "geopackage",
    ".shp": "shapefile",
    ".gml": "gml",
    ".gpx": "gpx",
    ".kml": "kml",
    ".csv": "csv", ".tsv": "csv",
    ".json": "json", ".ndjson": "json", ".jsonl": "json",
    ".geojson": "geojson", ".geojsons": "geojson_seq",
    ".txt": "text", ".text": "text",
    ".bna": "bna",
    ".gmt": "gmt",
    ".gen": "arcgen",
    ".mif": "mapinfo",
    ".sqlite": "sqlite", ".db": "sqlite",
    ".dxf": "dxf",
    ".dgn": "dgn",
    ".lbl": "pds",
    ".sua": "sua",
    ".segy": "segy", ".sgy": "segy",
    ".vrt": "vrt",
    ".gtm": "gpstrackmaker",
    ".000": "s57",
    ".sql": "pgdump",
}


def driver_from_extension(path: str) -> str:
    """`fiona/drvsupport.py:231-254` parity: infer driver from the path.

    Directories resolve to parquet (Spark's native dataset layout).
    """
    ext = os.path.splitext(path.rstrip("/"))[1].lower()
    if ext in _EXT_TO_DRIVER:
        # extension wins even for directories: Spark writers produce a
        # directory named data.csv/data.json for those formats
        return _EXT_TO_DRIVER[ext]
    if os.path.isdir(path):
        return "parquet"
    raise DriverError(
        f"Unable to detect driver for path {path!r} "
        f"(known extensions: {sorted(_EXT_TO_DRIVER)})")


def detect_encoding(path: str, sample_bytes: int = 65536,
                    max_parts: int = 3) -> str:
    """UTF-8 if the heads of the first data files decode as UTF-8, else
    ISO-8859-1 — the reference's shapefile fallback rule
    (`fiona/ogrext.pyx:940-983` _get_fallback_encoding).

    The probe decodes incrementally with ``final=False`` so a multibyte
    UTF-8 sequence cut at the ``sample_bytes`` boundary is NOT treated
    as invalid (a strict ``bytes.decode`` would falsely flip a valid
    file to ISO-8859-1).  Multi-part datasets probe up to ``max_parts``
    part files, not just the first.
    """
    import codecs

    probes = [path]
    if os.path.isdir(path):
        probes = []
        for root, _d, files in os.walk(path):
            data = sorted(f for f in files if not f.startswith(("_", ".")))
            probes.extend(os.path.join(root, f) for f in data)
            if len(probes) >= max_parts:
                break
        probes = probes[:max_parts] or [path]
    for probe in probes:
        try:
            with open(probe, "rb") as fh:
                head = fh.read(sample_bytes)
            truncated = len(head) == sample_bytes
            dec = codecs.getincrementaldecoder("utf-8")()
            dec.decode(head, final=not truncated)
        except UnicodeDecodeError:
            return "ISO-8859-1"
        except OSError:
            continue
    return "UTF-8"


# ---------------------------------------------------------------------------
# built-in drivers
# ---------------------------------------------------------------------------

def _read_parquet(spark, path, **opts):
    return spark.read.options(**opts).parquet(path)


def _write_parquet(df: DataFrame, path, mode="overwrite", **opts):
    df.write.mode(mode).options(**opts).parquet(path)


def _read_orc(spark, path, **opts):
    return spark.read.options(**opts).orc(path)


def _write_orc(df: DataFrame, path, mode="overwrite", **opts):
    df.write.mode(mode).options(**opts).orc(path)


def _read_csv(spark, path, encoding=None, **opts):
    o = {"header": "true", "inferSchema": "true"}
    o.update(opts)
    o["encoding"] = encoding or detect_encoding(path)
    if path.endswith(".tsv"):
        o.setdefault("sep", "\t")
    df = spark.read.options(**o).csv(path)
    # the reference's CSV driver auto-detects a WKT geometry column
    # (fiona.open over curves_line.csv yields FEATURES): decode it into
    # the ring model, curves linearized — distributed, one mapInPandas
    wkt_col = next((c for c in df.columns if c.lower() == "wkt"), None)
    if wkt_col is not None:
        from .. import wkt
        df = decode_geometry_column(df, wkt_col, wkt.decode)
    return df


def decode_geometry_column(df: DataFrame, col: str, decode) -> DataFrame:
    """Decode a WKT or WKB column into the ring layer in one
    distributed ``mapInPandas`` pass; ``decode`` is the codec's
    (``wkt.decode``, ``wkb.decode``).  As in OGR, a null or undecodable
    value gives a null geometry: the codecs raise ``WKTError``/
    ``WKBError``, both ``ValueError``s.  Any other error fails the
    read."""
    import pandas as pd

    from .. import model

    def rings(value):
        if value is None:
            return None, None, None
        try:
            return model.rings_from_geometry(decode(value))
        except ValueError:
            return None, None, None

    def run(batches):
        for b in batches:
            recs = b.to_dict("records")
            for d in recs:
                d.update(zip(RINGS_STRUCT.names, rings(d[col])))
            yield pd.DataFrame(recs)

    return with_ring_columns(df.mapInPandas(
        run, T.StructType(df.schema.fields + RINGS_STRUCT.fields)))


def ring_schema(fields: dict) -> T.StructType:
    """A reader's declared columns, ``fields`` (name -> Spark type, in
    column order), followed by the ``RINGS_STRUCT`` columns."""
    return T.StructType([T.StructField(n, t) for n, t in fields.items()]
                        + RINGS_STRUCT.fields)


def rows_frame(spark, rows: list[dict], fields: dict) -> DataFrame:
    """The one frame builder of the driver-side readers: ``rows`` (one
    dict per feature) against ``ring_schema(fields)``, as one Arrow
    table.  No type is ever inferred: a key a row lacks is null (so is
    a ring column of a row without geometry; an EMPTY one is ``[]``),
    and a value that does not convert to its declared type raises.
    A naive ``datetime`` is session-local time, as Spark reads it from
    pandas."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = ring_schema(fields)
    # Arrow truncates a float given for an integer column (1.5 -> 1)
    ints = [n for n, t in fields.items() if isinstance(t, T.IntegralType)]
    for r in rows:
        for n in ints:
            v = r.get(n)
            if isinstance(v, float) and not v.is_integer():
                raise DriverError(
                    f"column {n!r}: cannot convert {v!r} to an integer")
    table = pa.Table.from_pylist(
        rows, to_arrow_schema(schema, timestamp_utc=False))
    return with_ring_columns(spark.createDataFrame(table, schema))


def feature_rows(df: DataFrame):
    """The one row stream of the driver-side writers: ``(props, rows)``.

    The frame enters through ``schema.with_rings`` (a frame with only
    ``xs``/``ys`` is a one-ring Polygon) and, when it has ring columns,
    through ``with_ring_columns``, so ``xmin..ymax`` are always those
    of ``rings_xs``/``rings_ys``; ``xs``/``ys`` (a copy of ring 0) are
    not streamed.  ``props`` lists the property columns as
    ``(name, type)`` pairs (``DataFrame.dtypes`` form): every column but
    the ring columns and ``fid``.  ``rows`` yields one
    ``Row.asDict(recursive=True)`` per feature, streamed to the driver a
    partition at a time (single-file formats encode driver-serially;
    bulk exports belong in parquet)."""
    df = with_rings(df)
    if "rings_xs" in df.columns:
        df = with_ring_columns(df).drop("xs", "ys")
    props = [(c, t) for c, t in df.dtypes
             if c not in RING_COLS and c != "fid"]

    def rows():
        for row in df.toLocalIterator():
            yield row.asDict(recursive=True)

    return props, rows()


def first_geom_type(df: DataFrame):
    """The first non-null ``geom_type`` of the frame as ``feature_rows``
    streams it (a layer type for the writers that declare one up
    front); None when there is none."""
    df = with_rings(df)
    if "geom_type" not in df.columns:
        return None
    hit = (df.select("geom_type").filter(F.col("geom_type").isNotNull())
           .limit(1).collect())
    return hit[0][0] if hit else None


@contextlib.contextmanager
def atomic_file(path: str):
    """The one file sink of the single-file writers in ``w`` mode:
    yields a temp path next to ``path`` and ``os.replace``s it onto
    ``path`` when the body succeeds.  On any exception the temp file is
    removed and the exception re-raised, so a failed write leaves
    neither a partial target nor a temp file."""
    tmp = path + ".tmp"
    try:
        yield tmp
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    os.replace(tmp, path)


def _write_csv(df: DataFrame, path, mode="overwrite", **opts):
    o = {"header": "true"}
    o.update(opts)
    df.write.mode(mode).options(**o).csv(path)


def _read_json(spark, path, encoding=None, **opts):
    o = dict(opts)
    o["encoding"] = encoding or detect_encoding(path)
    return spark.read.options(**o).json(path)


def _write_json(df: DataFrame, path, mode="overwrite", **opts):
    df.write.mode(mode).options(**opts).json(path)


def _read_text(spark, path, **opts):
    return spark.read.options(**opts).text(path)


def _write_text(df: DataFrame, path, mode="overwrite", **opts):
    df.write.mode(mode).options(**opts).text(path)


def _read_topojson(spark, path, **opts):
    from . import topojson
    return topojson.read_topojson(spark, path)


def _read_vrt(spark, path, layer=None, **opts):
    from . import vrt
    return vrt.read_vrt(spark, path, layer=layer)


def _read_s57(spark, path, layer=None, **opts):
    from . import s57
    return s57.read_s57(spark, path, layer=layer)


def _read_gtm(spark, path, layer=None, **opts):
    from . import gpstrackmaker
    return gpstrackmaker.read_gtm(spark, path, layer or "waypoints")


def _write_gtm(df, path, mode="overwrite", **opts):
    from . import gpstrackmaker
    if mode == "append":
        gpstrackmaker.append_gtm(df, path)
    else:
        gpstrackmaker.write_gtm(df, path)


def _no_write(df, path, **opts):
    raise DriverError("this driver is read-only")


def _no_read(spark, path, **opts):
    raise DriverError("this driver is write-only (GDAL PGDump parity: "
                      "the dump loads with psql, not back into the engine)")


def _write_pgdump(df, path, mode="overwrite", **opts):
    from . import pgdump
    pgdump.write_pgdump(df, path, **opts)


def _read_gpkg(spark, path, layer=None, bbox=None, **opts):
    from . import geopackage
    return geopackage.read_geopackage(spark, path, layer, bbox=bbox)


def _read_shp(spark, path, encoding=None, **opts):
    from . import shapefile
    return shapefile.read_shapefile(spark, path, encoding)


def _write_shp(df, path, mode="overwrite", **opts):
    from . import shapefile
    if mode == "append":
        shapefile.append_shapefile(df, path, **opts)
    else:
        shapefile.write_shapefile(df, path, **opts)


def _read_gml(spark, path, **opts):
    from . import gml
    return gml.read_gml(spark, path)


def _write_gml(df, path, **opts):
    from . import gml
    gml.write_gml(df, path, **opts)


def _write_gpx(df, path, **opts):
    from . import gpx
    gpx.write_gpx(df, path, **opts)


def _write_kml(df, path, **opts):
    from . import kml
    kml.write_kml(df, path, **opts)


def _read_gdb(spark, path, layer=None, **opts):
    from . import openfilegdb
    return openfilegdb.read_openfilegdb(spark, path, layer)


def _write_gdb(df, path, mode="w", **opts):
    from . import openfilegdb
    openfilegdb.write_openfilegdb(
        df, path, mode="a" if mode == "append" else mode, **opts)


def _read_fgb(spark, path, bbox=None, **opts):
    from . import flatgeobuf
    return flatgeobuf.read_flatgeobuf(spark, path, bbox=bbox)


def _write_fgb(df, path, **opts):
    from . import flatgeobuf
    flatgeobuf.write_flatgeobuf(df, path, **opts)


def _read_gpx(spark, path, layer="waypoints", **opts):
    from . import gpx
    return gpx.read_gpx(spark, path, layer)


def _read_kml(spark, path, **opts):
    from . import kml
    return kml.read_kml(spark, path)


def _write_gpkg(df, path, mode="overwrite", layer="features", **opts):
    from . import geopackage
    geopackage.write_geopackage(
        df, path, layer, mode="a" if mode == "append" else "w", **opts)


def _read_geojson(spark, path, **opts):
    from . import geojson
    return geojson.read_collection(spark, path)


def _write_geojson(df: DataFrame, path, **opts):
    from . import geojson
    geojson.write_collection(df, path, **opts)


def _read_geojson_seq(spark, path, **opts):
    from . import geojson
    return geojson.read_feature_seq(spark, path)


def _write_geojson_seq(df: DataFrame, path, **opts):
    from . import geojson
    geojson.write_feature_seq(df, path, **opts)


def _read_esrijson(spark, path, **opts):
    from . import esrijson
    return esrijson.read_esrijson(spark, path)


def _read_bna(spark, path, **opts):
    from . import bna
    return bna.read_bna(spark, path)


def _write_bna(df, path, **opts):
    from . import bna
    bna.write_bna(df, path)


def _read_gmt(spark, path, **opts):
    from . import ogr_gmt
    return ogr_gmt.read_gmt(spark, path)


def _write_gmt(df, path, **opts):
    from . import ogr_gmt
    ogr_gmt.write_gmt(df, path)


def _read_arcgen(spark, path, **opts):
    from . import arcgen
    return arcgen.read_arcgen(spark, path)


def _read_dgn(spark, path, **opts):
    from . import dgn
    return dgn.read_dgn(spark, path)


def _read_pds(spark, path, **opts):
    from . import pds
    return pds.read_pds(spark, path, **opts)


def _read_sua(spark, path, **opts):
    from . import sua
    return sua.read_sua(spark, path)


def _read_segy(spark, path, **opts):
    from . import segy
    return segy.read_segy(spark, path)


def _read_mif(spark, path, **opts):
    from . import mapinfo
    return mapinfo.read_mapinfo(spark, path)


def _write_mif(df, path, mode="overwrite", **opts):
    from . import mapinfo
    mapinfo.write_mapinfo(df, path,
                          mode="a" if mode == "append" else "w", **opts)


def _read_sqlite(spark, path, layer=None, **opts):
    from . import sqlite_db
    return sqlite_db.read_sqlite(spark, path, layer)


def _write_sqlite(df, path, mode="overwrite", layer="features", **opts):
    from . import sqlite_db
    sqlite_db.write_sqlite(df, path, layer,
                           mode="a" if mode == "append" else "w", **opts)


def _read_dxf(spark, path, **opts):
    from . import dxf
    return dxf.read_dxf(spark, path)


def _write_dxf(df, path, **opts):
    from . import dxf
    dxf.write_dxf(df, path)


def _read_iceberg_like(spark, path, **opts):
    from . import iceberg_like
    return iceberg_like.read_table(spark, path, **opts)


def _write_iceberg_like(df, path, mode="overwrite", **opts):
    from . import iceberg_like
    if mode == "append":
        iceberg_like.append_table(df, path)
    else:
        iceberg_like.write_table(df, path, **opts)


register_driver("parquet", _read_parquet, _write_parquet, "raw")
register_driver("iceberg_like", _read_iceberg_like, _write_iceberg_like, "raw")
register_driver("orc", _read_orc, _write_orc, "raw")
register_driver("csv", _read_csv, _write_csv, "raw")
register_driver("json", _read_json, _write_json, "raw")
register_driver("text", _read_text, _write_text, "raw")
register_driver("geojson", _read_geojson, _write_geojson, "rw")
register_driver("topojson", _read_topojson, _no_write, "r")
register_driver("geopackage", _read_gpkg, _write_gpkg, "raw")
register_driver("shapefile", _read_shp, _write_shp, "raw")
register_driver("gml", _read_gml, _write_gml, "rw")
register_driver("gpx", _read_gpx, _write_gpx, "rw")
register_driver("kml", _read_kml, _write_kml, "rw")
register_driver("flatgeobuf", _read_fgb, _write_fgb, "rw")
register_driver("openfilegdb", _read_gdb, _write_gdb, "raw")
register_driver("geojson_seq", _read_geojson_seq, _write_geojson_seq, "raw")
register_driver("esrijson", _read_esrijson, _no_write, "r")
register_driver("bna", _read_bna, _write_bna, "rw")
register_driver("gmt", _read_gmt, _write_gmt, "rw")
register_driver("arcgen", _read_arcgen, _no_write, "r")
register_driver("mapinfo", _read_mif, _write_mif, "raw")
register_driver("sqlite", _read_sqlite, _write_sqlite, "raw")
register_driver("dxf", _read_dxf, _write_dxf, "rw")
register_driver("dgn", _read_dgn, _no_write, "r")
register_driver("pds", _read_pds, _no_write, "r")
register_driver("sua", _read_sua, _no_write, "r")
register_driver("segy", _read_segy, _no_write, "r")
register_driver("vrt", _read_vrt, _no_write, "r")
register_driver("gpstrackmaker", _read_gtm, _write_gtm, "raw")
register_driver("s57", _read_s57, _no_write, "r")
register_driver("pgdump", _no_read, _write_pgdump, "w")


def open_dataset(spark, path: str, driver: str | None = None, **opts) -> DataFrame:
    """``fiona.open(path)`` analogue: driver from extension unless
    given.  VFS URIs (``zip://archive!member``, ``tar://``,
    ``gzip://``, ``file://`` — the reference's fiona/vfs.py syntax)
    resolve first; remote schemes pass through to the cluster FS."""
    if "://" in path:
        from .. import vfs
        path = vfs.resolve(path)
    name = driver or driver_from_extension(path)
    check_mode(name, "r")
    reader, _w, _m = _REGISTRY[name]
    return reader(spark, path, **opts)


def write_dataset(df: DataFrame, path: str, driver: str | None = None,
                  mode: str = "w", **opts) -> None:
    """``fiona.open(path, 'w'|'a')`` analogue; ``mode='a'`` appends and
    is gated on the driver's capability string like the reference."""
    name = driver or driver_from_extension(path)
    check_mode(name, mode)
    _r, writer, _m = _REGISTRY[name]
    if mode == "a":
        writer(df, path, mode="append", **opts)
    else:
        writer(df, path, **opts)
