"""Dataset/layer catalog operations (Fiona's discovery + admin surface).

Parity map (SURVEY.md section 2.1):
  * ``fiona.listlayers``  (`fiona/__init__.py:512-584`)  -> table/layer
    listing of a dataset directory or the session catalog
  * ``fiona.listdir``     (`fiona/__init__.py:460-508`)  -> FS listing
  * ``fiona.remove``      (`fiona/__init__.py:389-456`)  -> drop layer
  * metadata tags         (`fiona/collection.py:293-391`) -> table
    properties JSON sidecar (the parquet analogue of GDAL's ns-scoped
    key/value metadata)
Error contracts mirror the reference: removing a missing layer raises
(`DatasetDeleteError` analogue), listing a non-dataset raises ValueError.
"""

from __future__ import annotations

import json
import os
import shutil

from ..errors import DriverError


def listlayers(path: str) -> list[str]:
    """Layer names in a dataset directory: every child holding parquet.

    A single parquet file/dir is one unnamed layer, like a shapefile's
    single layer (returns its basename).
    """
    if not os.path.exists(path):
        raise DriverError(f"no dataset at {path!r}")
    low = path.lower()
    if low.endswith(".gpkg"):
        from .geopackage import listlayers_gpkg
        return listlayers_gpkg(path)
    if low.endswith(".gpx"):
        from .gpx import LAYERS
        return list(LAYERS)
    if low.rstrip("/").endswith(".gdb"):
        from .openfilegdb import listlayers_gdb
        return listlayers_gdb(path)
    if low.endswith((".sqlite", ".db")):
        from .sqlite_db import listlayers_sqlite
        return listlayers_sqlite(path)
    if low.endswith(".vrt"):
        from .vrt import listlayers_vrt
        return listlayers_vrt(path)
    if low.endswith(".gtm"):
        from .gpstrackmaker import LAYERS
        return list(LAYERS)
    if low.endswith(".000"):
        from .s57 import listlayers_s57
        return listlayers_s57(path)
    if os.path.isfile(path) or os.path.exists(os.path.join(path, "_SUCCESS")):
        return [os.path.splitext(os.path.basename(path))[0]]
    out = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if name.endswith(".parquet") or (
                os.path.isdir(full) and (
                os.path.exists(os.path.join(full, "_SUCCESS"))
                or any(f.endswith(".parquet") for f in os.listdir(full)))):
            out.append(os.path.splitext(name)[0])
    return out


def listdir(path: str) -> list[str]:
    """Raw dataset-directory listing (`fiona.listdir` parity)."""
    if not os.path.isdir(path):
        raise DriverError(f"not a directory: {path!r}")
    return sorted(os.listdir(path))


def remove(path: str, layer: str | None = None) -> None:
    """Remove a dataset or one layer of it (`fiona.remove` parity)."""
    target = path if layer is None else os.path.join(path, f"{layer}.parquet")
    if not os.path.exists(target):
        alt = os.path.join(path, layer) if layer else None
        if alt and os.path.exists(alt):
            target = alt
        else:
            raise DriverError(f"no such dataset/layer: {target!r}")
    if os.path.isdir(target):
        shutil.rmtree(target)
        return
    os.remove(target)
    if target.lower().endswith(".shp"):
        # the reference's remove() drops the whole shapefile dataset:
        # sidecar members go with the .shp (fiona/ogrext.pyx _remove)
        stem = os.path.splitext(target)[0]
        for ext in (".shx", ".dbf", ".cpg", ".prj"):
            for cand in (stem + ext, stem + ext.upper()):
                if os.path.exists(cand):
                    os.remove(cand)


_TAGS_FILE = "_fiona_spark_tags.json"


def update_tags(path: str, tags: dict, ns: str = "") -> None:
    """Set ns-scoped key/value metadata on a dataset directory."""
    if not os.path.isdir(path):
        raise DriverError(f"no dataset at {path!r}")
    f = os.path.join(path, _TAGS_FILE)
    existing = {}
    if os.path.exists(f):
        with open(f) as fh:
            existing = json.load(fh)
    existing.setdefault(ns, {}).update({str(k): str(v) for k, v in tags.items()})
    tmp = f + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    os.replace(tmp, f)


def get_tags(path: str, ns: str = "") -> dict:
    f = os.path.join(path, _TAGS_FILE)
    if not os.path.exists(f):
        return {}
    with open(f) as fh:
        return json.load(fh).get(ns, {})


def open_any(spark, table_path: str, layer: str | None = None):
    """Resolve a dataset path through the driver registry and open it.

    Returns ``(df, driver_name)``; falls back to parquet when the
    extension is unregistered (the engine's native table layout).
    Shared by :func:`info` and ``env.insp`` so both surfaces open
    .gpkg/.shp/.gml/... identically.  ``layer`` selects a named layer
    for multi-layer drivers (gpkg/gpx/gdb/...).
    """
    from . import drivers
    try:
        drv = drivers.driver_from_extension(table_path)
    except DriverError:
        drv = "parquet"
    if drv == "parquet" and os.path.isdir(os.path.join(table_path, "_snapshots")):
        # iceberg_like table root: the manifest dir is not parquet data —
        # resolve the current snapshot's files instead
        from . import iceberg_like
        return iceberg_like.read_table(spark, table_path), "iceberg_like"
    opts = {"layer": layer} if layer else {}
    df = (spark.read.parquet(table_path) if drv == "parquet"
          else drivers.open_dataset(spark, table_path, driver=drv, **opts))
    return df, drv


def info(spark, table_path: str, layer: str | None = None) -> dict:
    """``fio info`` parity: count, bounds (when footprint columns
    exist), schema, plus the driver capability record
    (`fiona/fio/info.py:42-78`; driver block mirrors fiona/meta.py).
    ``layer`` reports the named layer of a multi-layer dataset (r5
    advice: the CLI flag was accepted but silently ignored)."""
    from pyspark.sql import functions as F

    from . import meta
    import os as _os

    df, drv = open_any(spark, table_path, layer=layer)
    rec = {
        "path": table_path,
        # reference src.name: the layer name, or the path stem for
        # single-layer sources (fiona/collection.py name property)
        "name": layer or _os.path.splitext(
            _os.path.basename(table_path.rstrip("/")))[0],
        "driver_name": drv,
        "count": df.count(),
        "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields},
        "driver": meta.driver_metadata(drv),
    }
    cols = set(df.columns)
    if {"xmin", "ymin", "xmax", "ymax"} <= cols:
        b = df.agg(F.min("xmin"), F.min("ymin"), F.max("xmax"), F.max("ymax")).first()
        rec["bounds"] = tuple(b)
    # crs: the recorded iceberg_like table property when present
    # (reference layers always carry one); geographic default otherwise
    try:
        from . import iceberg_like
        crs = iceberg_like.table_crs(table_path)
    except FileNotFoundError:          # not an iceberg_like table root
        crs = None
    rec["crs"] = str(crs) if crs else "EPSG:4326"
    return rec
