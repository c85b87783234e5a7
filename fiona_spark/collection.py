"""``fiona.Collection`` parity: the reference's file-like object API
over the engine's DataFrame-backed datasets.

The reference Collection (`fiona/collection.py:41-688`) is a cursor:
an iterator of GeoJSON-like features with `schema`/`crs`/`bounds`
introspection, `filter/items/keys` sub-iterators, FID random access,
and buffered `write`/`writerecords` in w/a modes.  This adapter keeps
that exact user surface while the underlying dataset stays a Spark
DataFrame — iteration streams `toLocalIterator()` (bounded driver
memory), every filter is planned by Catalyst before the stream starts,
and writes buffer driver-side then commit ONE distributed write on
close/flush (the engine analogue of the reference's 20k-feature
transaction buffer, `fiona/ogrext.pyx:1317-1322`).

Reading remains the set-oriented fast path (`fiona_spark.open` ->
DataFrame); this class exists so code written against the reference
("for feat in fiona.open(p)", "src.schema", "src[42]") ports verbatim.
"""

from __future__ import annotations

import os

from . import model
from .errors import DriverError


class Collection:
    """File-like interface to the features of one dataset layer."""

    def __init__(self, spark, path: str, mode: str = "r",
                 driver: str | None = None, schema: dict | None = None,
                 crs=None, layer: str | None = None, **opts):
        from .sources import drivers as _drivers
        if mode not in ("r", "a", "w"):
            raise ValueError(f"mode string must be 'r', 'w' or 'a', "
                             f"not {mode!r}")
        self._spark = spark
        self.path = path
        self.mode = mode
        self.name = layer or os.path.splitext(os.path.basename(path))[0]
        self._layer = layer
        self._opts = opts
        self._closed = False
        self._buffer: list[dict] = []
        self._driver = driver or _drivers.driver_from_extension(path)
        _drivers.check_mode(self._driver, mode)
        self._schema = schema
        self._crs = crs
        self._df = None
        if mode == "r":
            kw = dict(opts)
            if layer:
                kw["layer"] = layer
            self._df = _drivers.open_dataset(spark, path, self._driver,
                                             **kw)
        elif mode == "w" and schema is None:
            raise DriverError("write mode needs a schema dict")

    # -- introspection ---------------------------------------------------

    @property
    def df(self):
        """The underlying DataFrame (engine extension, read mode)."""
        self._guard_read()
        return self._df

    @property
    def driver(self) -> str:
        return self._driver

    @property
    def schema(self) -> dict:
        """Fiona-style ``{"geometry": ..., "properties": {...}}``
        (`fiona/collection.py:267-277`)."""
        if self._schema is None:
            from . import schema as _schema
            self._guard_read()
            rec = _schema.from_spark_schema(self._df.schema)
            if "geom_type" in self._df.columns \
                    and rec.get("geometry") in (None, "None", "Unknown"):
                head = self._df.select("geom_type").limit(1).collect()
                rec["geometry"] = head[0][0] if head else "Unknown"
            self._schema = rec
        return self._schema

    @property
    def crs(self):
        if self._crs is None:
            from .crs import CRS
            self._crs = CRS.from_epsg(4326)
        return self._crs

    @property
    def crs_wkt(self) -> str:
        return self.crs.to_wkt()

    @property
    def meta(self) -> dict:
        return {"driver": self.driver, "schema": self.schema,
                "crs": self.crs, "mode": self.mode}

    profile = meta

    @property
    def bounds(self) -> tuple:
        """(xmin, ymin, xmax, ymax) over the collection
        (`fiona/collection.py:592-597`) — one Catalyst min/max agg."""
        from .operators import aggregates
        self._guard_read()
        row = aggregates.extent(self._df).collect()[0]
        return (row["xmin"], row["ymin"], row["xmax"], row["ymax"])

    def tags(self, ns=None) -> dict:
        from .sources import catalog
        return catalog.get_tags(self.path, ns or "")

    def update_tags(self, tags: dict, ns=None) -> None:
        from .sources import catalog
        catalog.update_tags(self.path, tags, ns or "")

    # -- read: iterators and random access -------------------------------

    def _id_col(self) -> str:
        cols = self._df.columns
        return "id" if "id" in cols else ("fid" if "fid" in cols
                                          else cols[0])

    def _view(self, *args, bbox=None, mask=None, where=None):
        """Apply the reference's shared filter protocol
        (`fiona/collection.py:406-437`): an optional slice
        (start/stop/step as positional args) plus bbox OR mask plus
        where — all planned before iteration."""
        from .operators import filters
        self._guard_read()
        if bbox and mask:
            raise ValueError("mask and bbox can not be set together")
        df = self._df
        if bbox is not None:
            df = filters.filter_bbox(df, bbox)
        if mask is not None:
            import fiona_spark
            # envelope prefilter always; exact point-in-mask when the
            # frame carries point columns (the engine's filter_mask
            # contract) — ring features keep the envelope-overlap
            # semantics, like the reference's OGR spatial filter on
            # its fast path
            df = filters.filter_bbox(df, fiona_spark.bounds(mask))
            if {"lng", "lat"} <= set(df.columns):
                _t, rxs, rys = model.rings_from_geometry(mask)
                df = filters.filter_mask(
                    df, [x for r in rxs for x in r],
                    [y for r in rys for y in r])
        if where is not None:
            df = filters.filter_where(df, where)
        if args and any(a is not None for a in args):
            start, stop, step = (list(args) + [None] * 3)[:3]
            if len(args) == 1:
                start, stop = None, args[0]
            df = filters.slice_rows(df, start, stop, step,
                                    order_by=self._id_col())
        return df

    def filter(self, *args, **kwds):
        """Iterator over features passing the filters
        (`fiona/collection.py:406-437`)."""
        df = self._view(*args, **kwds)
        idc = self._id_col()
        for row in df.toLocalIterator():
            yield model.row_to_feature(row, id_col=idc)

    def values(self, *args, **kwds):
        return self.filter(*args, **kwds)

    def keys(self, *args, **kwds):
        idc = self._id_col()
        for row in self._view(*args, **kwds).select(idc).toLocalIterator():
            yield row[0]

    def items(self, *args, **kwds):
        idc = self._id_col()
        for row in self._view(*args, **kwds).toLocalIterator():
            yield row[idc], model.row_to_feature(row, id_col=idc)

    def __iter__(self):
        return self.filter()

    def __contains__(self, fid) -> bool:
        from .operators import filters
        self._guard_read()
        return filters.contains_fid(self._df, fid, id_col=self._id_col())

    def get(self, fid):
        from .operators import filters
        self._guard_read()
        idc = self._id_col()
        rows = filters.get_fid(self._df, fid, id_col=idc).collect()
        if not rows:
            raise KeyError(fid)
        return model.row_to_feature(rows[0], id_col=idc)

    __getitem__ = get

    def __len__(self) -> int:
        self._guard_read()
        return self._df.count()

    # -- write ------------------------------------------------------------

    def write(self, record) -> None:
        """Buffer one feature (`fiona/collection.py:545-551`); the
        distributed write happens on flush/close."""
        self.writerecords([record])

    def writerecords(self, records) -> None:
        from . import schema as _schema
        if self.mode not in ("a", "w"):
            raise DriverError("collection not open for writing")
        for rec in records:
            f = model.decode_object(rec)
            if self._schema:
                _schema.validate_record_keys(
                    dict(f["properties"] or {}),
                    self._schema.get("properties", {}))
            self._buffer.append(model.feature_to_row(f))

    def flush(self) -> None:
        """Commit buffered features as ONE distributed write
        (append after the first flush)."""
        import fiona_spark
        from pyspark.sql import types as T

        from .schema import RINGS_STRUCT, with_ring_columns
        if not self._buffer:
            return
        # Spark infers no type for an all-null column, so the ring
        # columns (null for null geometries) get theirs explicitly
        props = self._spark.createDataFrame(
            [{k: v for k, v in r.items() if k not in RINGS_STRUCT.names}
             for r in self._buffer]).schema
        df = with_ring_columns(self._spark.createDataFrame(
            self._buffer, T.StructType(props.fields + RINGS_STRUCT.fields)))
        mode = self.mode if self._df is None else "a"
        fiona_spark.open(self._spark, self.path, mode=mode,
                         driver=self._driver, df=df, **self._opts)
        # read-back APIs (len/bounds/iteration) must reflect the WHOLE
        # dataset on disk, not just the last buffered batch (r5 advice):
        # re-open from path after every flush
        try:
            kw = dict(self._opts)
            if self._layer:
                kw["layer"] = self._layer
            self._df = fiona_spark.open(self._spark, self.path, mode="r",
                                        driver=self._driver, **kw)
        except DriverError:
            self._df = df   # driver without read support: best effort
        self._buffer = []
        if self.mode == "w":
            self.mode = "a"   # subsequent flushes extend, not replace

    def close(self) -> None:
        if not self._closed:
            if self.mode in ("a", "w"):
                self.flush()
            self._closed = True

    @property
    def closed(self) -> bool:
        return self._closed

    def _guard_read(self):
        if self._closed:
            raise ValueError("I/O operation on closed collection")
        if self._df is None:
            raise DriverError("collection not open for reading")

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc_val, exc_tb):
        self.close()

    def __repr__(self):
        state = "closed" if self._closed else "open"
        return (f"<{state} Collection '{self.path}:{self.name}', "
                f"mode '{self.mode}'>")
