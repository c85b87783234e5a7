"""fiona_spark — PySpark-native spatial-join + tiling engine with the
query surface of Toblerity/Fiona, re-expressed as set-oriented
DataFrame operators.

Top-level convenience API mirroring the reference's module surface
(`fiona.open` / `listlayers` / `listdir` / `remove` /
`supported_drivers` / `bounds` — `fiona/__init__.py:91-659`); a
``SparkSession`` takes the place of the GDAL environment.  The full
operator library lives in the submodules (see README.md).
"""

from __future__ import annotations

import os as _os
import sys as _sys
import zipimport as _zipimport

__version__ = "0.4.0"          # round-4 build

_zip_reread = _zipimport.zipimporter.invalidate_caches
_zip_reread = getattr(_zip_reread, "__wrapped__", _zip_reread)   # reload-safe


def _zip_invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` differs
    from the last read, or when ``stat`` fails.

    ``pyspark.worker`` calls ``importlib.invalidate_caches()`` at the
    start of every task; on CPython 3.11 that makes every zip importer
    (pyspark.zip and its subpackages, the Spark jar, py4j, the py-files
    zip: ~27k entries) re-parse its archive directory in pure Python,
    120-200 ms per task before any UDF code runs.  A rewritten archive
    gets a new mtime or size and is re-read; a new archive gets a new
    importer, so it is still picked up.
    """
    try:
        st = _os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_fs_stat_key", None):
        _zip_reread(self)
        self._fs_stat_key = key


_zip_invalidate_caches.__wrapped__ = _zip_reread

# installed once, inside Spark Python tasks only (the driver keeps the
# stock method); pyspark.worker sets the TaskContext before it
# unpickles the UDFs that import this package
_tc = _sys.modules.get("pyspark.taskcontext")
if (_tc is not None and _tc.TaskContext.get() is not None
        and _zipimport.zipimporter.invalidate_caches is _zip_reread):
    _zipimport.zipimporter.invalidate_caches = _zip_invalidate_caches


def open(spark, path: str, mode: str = "r", driver: str | None = None,
         opener=None, **opts):
    """``fiona.open`` analogue: read returns a DataFrame; pass
    ``mode='w'``/``'a'`` with ``df=`` to write/append.

    ``opener``: the reference's Python-opener plugin
    (`fiona/__init__.py` opener kwarg + `_vsiopener.pyx`) — a callable
    like ``io.open`` or an fsspec-style filesystem; dataset bytes
    (and shapefile sidecars) route through it instead of the local FS.
    """
    from .sources import drivers
    if mode == "r":
        if opener is not None:
            from .io import materialize_via_opener
            path = materialize_via_opener(path, opener)
        return drivers.open_dataset(spark, path, driver, **opts)
    if mode in ("w", "a"):
        df = opts.pop("df", None)
        if df is None:
            raise ValueError("write mode needs df=<DataFrame>")
        if opener is not None:
            import os
            import tempfile

            from .io import materialize_via_opener, publish_via_opener
            local = os.path.join(tempfile.mkdtemp(prefix="fs_pyopener_w_"),
                                 os.path.basename(path.rstrip("/")) or "out")
            if mode == "a":
                # append needs the existing bytes first
                local = materialize_via_opener(path, opener)
            drivers.write_dataset(df, local, driver, mode=mode, **opts)
            publish_via_opener(local, path, opener)
            return None
        drivers.write_dataset(df, path, driver, mode=mode, **opts)
        return None
    raise ValueError(f"unsupported mode {mode!r}")


def open_collection(spark, path: str, mode: str = "r",
                    driver: str | None = None, schema: dict | None = None,
                    crs=None, layer: str | None = None, opener=None, **opts):
    """``fiona.open`` returning the reference's file-like Collection
    object (`fiona/collection.py:41-688`): an iterator of features
    with schema/crs/bounds introspection, filter/items/keys
    sub-iterators, FID access, and buffered write/writerecords —
    code written against the reference ports verbatim.  `open`
    (above) is the set-oriented fast path returning a DataFrame."""
    from .collection import Collection
    if opener is not None and mode == "r":
        from .io import materialize_via_opener
        path = materialize_via_opener(path, opener)
    return Collection(spark, path, mode=mode, driver=driver,
                      schema=schema, crs=crs, layer=layer, **opts)


def listlayers(path: str) -> list:
    from .sources import catalog
    return catalog.listlayers(path)


def listdir(path: str) -> list:
    from .sources import catalog
    return catalog.listdir(path)


def remove(path: str, layer: str | None = None) -> None:
    from .sources import catalog
    catalog.remove(path, layer)


def supported_drivers() -> dict:
    from .sources import drivers
    return drivers.supported_drivers()


def prop_width(val: str):
    """Width of a ``str``-type schema property
    (`fiona/__init__.py:587-611`): ``'str:25'`` -> 25, bare ``'str'``
    -> the default 80; None for non-str types."""
    if val.startswith("str"):
        return int((val.split(":")[1:] or ["80"])[0])
    return None


def prop_type(text: str) -> type:
    """Python class for a schema property type string
    (`fiona/__init__.py:614-635`); temporal types are RFC3339 strings
    in the engine's model (SURVEY.md section 1.2)."""
    key = text.split(":")[0]
    types = {"int": int, "int16": int, "int32": int, "int64": int,
             "bool": bool, "float": float, "float32": float,
             "float64": float, "str": str, "bytes": bytes,
             "List[str]": list, "json": str,
             "date": str, "time": str, "datetime": str}
    if key not in types:
        raise KeyError(f"unknown field type {text!r}")
    return types[key]


def bounds(feature_or_geometry) -> tuple:
    """``fiona.bounds`` analogue over a model Feature/Geometry/dict."""
    from . import model as _m
    ob = _m.decode_object(feature_or_geometry)
    if isinstance(ob, _m.Feature):
        ob = ob.geometry
    _t, rxs, rys = _m.rings_from_geometry(ob)
    allx = [x for r in rxs for x in r]
    ally = [y for r in rys for y in r]
    return (min(allx), min(ally), max(allx), max(ally))


def __getattr__(name):
    # lazy model re-exports (`fiona/__init__.py:68-79` __all__):
    # from fiona_spark import Feature / Geometry / Properties
    if name in ("Feature", "Geometry", "Properties", "Object"):
        from . import model
        return getattr(model, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
