"""Fiona schema-string type system <-> Spark types (SURVEY.md section 1.2).

The reference describes collection schemas as
``{"geometry": <type>, "properties": {name: "type[:width[.precision]]"}}``
(`fiona/__init__.py:116-123`, `fiona/collection.py:199-210`) with the
field-type vocabulary of `fiona/schema.pyx:11-90`:

    int32 (int:width<10)  int / int64   int16   bool   float / float64
    (float:w.p)           str / str:width (default 80,
    `fiona/__init__.py:587-611`)   bytes   List[str]   json   date
    time   datetime

This module round-trips those schema strings to Spark StructTypes,
keeping width/precision as column metadata (they are display hints, not
storage semantics — Fiona's floats are C doubles regardless of
``float:24.15``).  Normalization rules follow `fiona/schema.pyx:108-113`
(``int`` -> ``int32`` when width < 10, else ``int64``) and unknown types
raise SchemaError like the reference's write-mode guard.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pac
from pyspark.sql import DataFrame, functions as F, types as T

from .errors import (GeometryTypeValidationError, SchemaError,
                     UnsupportedGeometryTypeError)

#: The ring layer (SURVEY.md section 1.1): a Fiona Geometry is its type
#: plus ring arrays, with the flat first ring and the envelope derived
#: from them.  Readers build the first three columns and call
#: ``with_ring_columns`` for the rest; writers skip all of them when
#: they serialize properties.
RING_COLS = ("geom_type", "rings_xs", "rings_ys", "xs", "ys",
             "xmin", "ymin", "xmax", "ymax")

#: Spark types of the columns a reader builds itself.
RINGS_STRUCT = T.StructType([
    T.StructField("geom_type", T.StringType()),
    T.StructField("rings_xs", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("rings_ys", T.ArrayType(T.ArrayType(T.DoubleType()))),
])


def with_ring_columns(df: DataFrame) -> DataFrame:
    """Derive ``xs``/``ys`` (the first ring) and the envelope from
    ``rings_xs``/``rings_ys`` in the JVM.  A null or empty ring list
    (a null or EMPTY geometry) gives null columns: ``get`` returns null
    past the end where ANSI ``rings_xs[0]`` would fail the query."""
    return df.withColumns({
        "xs": F.get("rings_xs", 0),
        "ys": F.get("rings_ys", 0),
        "xmin": F.array_min(F.expr("transform(rings_xs, r -> array_min(r))")),
        "ymin": F.array_min(F.expr("transform(rings_ys, r -> array_min(r))")),
        "xmax": F.array_max(F.expr("transform(rings_xs, r -> array_max(r))")),
        "ymax": F.array_max(F.expr("transform(rings_ys, r -> array_max(r))")),
    })


def with_rings(df: DataFrame) -> DataFrame:
    """The one-ring adapter: a frame that carries only the first ring
    (``xs``/``ys``, like ``fixtures.ZONES_SCHEMA`` and the canonical
    zones parquet) gets ``rings_xs = [xs]``, ``rings_ys = [ys]`` (null
    for a null ring) and, lacking one, ``geom_type = 'Polygon'``; a
    frame with ring columns, or with no geometry, is returned
    unchanged."""
    if "rings_xs" in df.columns or "xs" not in df.columns:
        return df
    cols = {f"rings_{c}": F.when(F.col(c).isNotNull(), F.array(c))
            for c in ("xs", "ys")}
    if "geom_type" not in df.columns:
        cols["geom_type"] = F.lit("Polygon")
    return df.withColumns(cols)


class FlatRings(NamedTuple):
    """A batch of ring-model features as flat numpy buffers — the Arrow
    ``list<list<double>>`` layout with the offsets turned into counts."""
    x: np.ndarray          # every vertex, ring after ring (null -> NaN)
    y: np.ndarray
    ring_lens: np.ndarray  # vertices per ring
    ring_nx: np.ndarray    # rings per feature (0 for a null or EMPTY one)
    null: np.ndarray       # per feature: a null geometry
    null_ring: np.ndarray  # per feature: holds a null ring


def read_rings(rings_xs, rings_ys) -> FlatRings:
    """The one reader of Arrow ``list<list<double>>`` ring columns (both
    ``pip_join`` lanes and every geometry UDF): flat vertices, ring
    lengths and per-feature ring counts with zero per-ring Python.  The
    ring structure is read from ``rings_xs``; a null in either column
    counts."""
    def lengths(a):
        return np.asarray(pac.list_value_length(a).fill_null(0)
                          .to_numpy(zero_copy_only=False), np.int64)

    def flat(col):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        rings = col.flatten()
        null_ring = np.zeros(len(col), dtype=bool)
        null_ring[np.repeat(np.arange(len(col)), lengths(col))[
            rings.is_null().to_numpy(zero_copy_only=False)]] = True
        return (col, rings, null_ring, np.asarray(
            rings.flatten().to_numpy(zero_copy_only=False), np.float64))

    cx, rx, nrx, x = flat(rings_xs)
    cy, _, nry, y = flat(rings_ys)
    return FlatRings(x, y, lengths(rx), lengths(cx),
                     pac.or_(cx.is_null(), cy.is_null()).to_numpy(
                         zero_copy_only=False), nrx | nry)


def rings_array(geom_type, x, y, ring_lens, ring_nx, null) -> pa.StructArray:
    """The one emitter: flat buffers back to an Arrow struct typed
    ``RINGS_STRUCT``; a ``null`` feature gives a null row."""
    mask = pa.array(np.asarray(null, dtype=bool))

    def offsets(counts):
        return pa.array(np.concatenate(([0], np.cumsum(counts))), pa.int32())

    def nest(v):
        ring = pa.ListArray.from_arrays(offsets(ring_lens),
                                        pa.array(v, pa.float64()))
        return pa.ListArray.from_arrays(offsets(ring_nx), ring, mask=mask)

    return pa.StructArray.from_arrays(
        [pa.array(geom_type, pa.string()), nest(x), nest(y)],
        names=RINGS_STRUCT.names, mask=mask)


FIELD_TYPES_MAP = {
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int": T.LongType(),        # modern Fiona: plain int == int64
    "int64": T.LongType(),
    "bool": T.BooleanType(),
    "float": T.DoubleType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "str": T.StringType(),
    "bytes": T.BinaryType(),
    "List[str]": T.ArrayType(T.StringType()),
    "json": T.StringType(),
    "date": T.DateType(),
    "time": T.StringType(),     # Spark has no TimeType; RFC3339 string
    "datetime": T.TimestampType(),
}

_TYPE_RE = re.compile(r"^(?P<base>[A-Za-z0-9\[\]]+)"
                      r"(?::(?P<width>\d+)(?:\.(?P<prec>\d+))?)?$")


def parse_field_type(spec: str) -> tuple[str, int | None, int | None]:
    """'float:24.15' -> ('float', 24, 15); 'str' -> ('str', None, None).

    Raises SchemaError on unknown base types (the reference raises
    SchemaError from `fiona/schema.pyx` on unsupported types).
    """
    m = _TYPE_RE.match(spec.strip())
    if not m:
        raise SchemaError(f"unparseable field type {spec!r}")
    base = m.group("base")
    width = int(m.group("width")) if m.group("width") else None
    prec = int(m.group("prec")) if m.group("prec") else None
    norm = normalize_field_type(base, width)
    if norm not in FIELD_TYPES_MAP:
        raise SchemaError(f"unsupported field type {base!r}")
    return norm, width, prec


def normalize_field_type(base: str, width: int | None) -> str:
    """`fiona/schema.pyx:108-113`: ``int`` with width < 10 is int32."""
    if base == "int" and width is not None:
        return "int32" if width < 10 else "int64"
    return base


def to_spark_field(name: str, spec: str) -> T.StructField:
    base, width, prec = parse_field_type(spec)
    meta = {"fiona:type": spec}
    if width is not None:
        meta["fiona:width"] = width
    if prec is not None:
        meta["fiona:precision"] = prec
    return T.StructField(name, FIELD_TYPES_MAP[base], nullable=True,
                         metadata=meta)


def to_spark_schema(fiona_schema: dict) -> T.StructType:
    """Fiona schema dict -> Spark StructType.

    ``geometry`` becomes the engine's ring representation (geom_type +
    xs/ys + envelope); properties map per FIELD_TYPES_MAP with an ``id``
    column first (Feature.id, `fiona/model.py:296-391`).
    """
    fields = [T.StructField("id", T.StringType(), False,
                            metadata={"fiona:role": "fid"})]
    gt = fiona_schema.get("geometry")
    if gt and gt != "None":
        fields += [
            T.StructField("geom_type", T.StringType(), True,
                          metadata={"fiona:geometry": gt}),
            T.StructField("xs", T.ArrayType(T.DoubleType()), True),
            T.StructField("ys", T.ArrayType(T.DoubleType()), True),
            T.StructField("xmin", T.DoubleType(), True),
            T.StructField("ymin", T.DoubleType(), True),
            T.StructField("xmax", T.DoubleType(), True),
            T.StructField("ymax", T.DoubleType(), True),
        ]
    for name, spec in (fiona_schema.get("properties") or {}).items():
        fields.append(to_spark_field(name, spec))
    return T.StructType(fields)


_SPARK_TO_FIONA = {
    T.ShortType(): "int16",
    T.IntegerType(): "int32",
    T.LongType(): "int",
    T.BooleanType(): "bool",
    T.FloatType(): "float32",
    T.DoubleType(): "float",
    T.StringType(): "str",
    T.BinaryType(): "bytes",
    T.DateType(): "date",
    T.TimestampType(): "datetime",
}


def from_spark_schema(schema: T.StructType) -> dict:
    """Spark StructType -> Fiona schema dict (inverse of to_spark_schema;
    width/precision restored from metadata when present — the engine
    analogue of `fio load`'s schema inference `fiona/fio/load.py:84-97`)."""
    props = {}
    geometry = "None"
    for f in schema.fields:
        if f.name == "geom_type":
            geometry = (f.metadata or {}).get("fiona:geometry", "Unknown")
        if f.name in ("id", "fid") or f.name in RING_COLS:
            continue
        meta = f.metadata or {}
        if "fiona:type" in meta:
            props[f.name] = meta["fiona:type"]
            continue
        if isinstance(f.dataType, T.ArrayType) and \
                isinstance(f.dataType.elementType, T.StringType):
            props[f.name] = "List[str]"
            continue
        base = _SPARK_TO_FIONA.get(f.dataType)
        if base is None:
            # unknown types are skipped with a warning, not errors
            # (`fiona/ogrext.pyx:660-666`, `:1076-1082`)
            import warnings
            warnings.warn(f"skipping field {f.name}: no Fiona type for "
                          f"{f.dataType.simpleString()}")
            continue
        props[f.name] = base
    return {"geometry": geometry, "properties": props}


def validate_record_keys(record_props: dict, schema_props: dict) -> None:
    """Write-path key validation (`fiona/ogrext.pyx:1653-1657`): record
    keys must be a subset of the schema's."""
    extra = set(record_props) - set(schema_props)
    if extra:
        raise SchemaError(
            f"record contains fields not in schema: {sorted(extra)}")


# ---------------------------------------------------------------------------
# Geometry-type schema validation (fiona/collection.py:699-721 +
# ogrext.pyx:1631-1665 write gate, tests/test_schema_geom.py contract)
# ---------------------------------------------------------------------------

ALL_GEOMETRY_TYPES = {
    "Point", "LineString", "LinearRing", "Polygon", "MultiPoint",
    "MultiLineString", "MultiPolygon", "GeometryCollection", "None",
}


def valid_geom_types(schema_geometry, driver: str | None = None) -> set:
    """The set of geometry types a schema accepts —
    ``_get_valid_geom_types`` parity: str or tuple/list declarations,
    '3D ' prefixes stripped, 'Unknown'/'Any' accept everything,
    unknown names raise UnsupportedGeometryTypeError.  The shapefile
    single/multi promotion applies for ``driver='ESRI Shapefile'``."""
    if isinstance(schema_geometry, str) or schema_geometry is None:
        schema_geometry = (schema_geometry,)
    valid: set = set()
    for geom_type in schema_geometry:
        geom_type = str(geom_type).lstrip("3D ")
        if geom_type in ("Unknown", "Any"):
            valid.update(ALL_GEOMETRY_TYPES)
        else:
            if geom_type not in ALL_GEOMETRY_TYPES:
                raise UnsupportedGeometryTypeError(geom_type)
            valid.add(geom_type)
    if driver == "ESRI Shapefile" and "Point" not in valid:
        for geom_type in list(valid):
            if not geom_type.startswith("Multi"):
                valid.add("Multi" + geom_type)
    return valid


def enforce_geometry_types(df, schema_geometry, geom_col: str = "geom_type",
                           driver: str | None = None):
    """Set-oriented form of the reference's per-record write gate
    (`ogrext.pyx:1631-1665`): rows whose geometry type (NULL = no
    geometry, always accepted; '3D ' prefix stripped) is outside the
    schema's valid set raise GeometryTypeValidationError AT EXECUTION
    via ``raise_error`` — the streaming/batch analogue of the
    reference raising mid-writerecords.  Returns df unchanged when the
    declaration accepts everything (no plan overhead)."""
    from pyspark.sql import functions as F

    valid = valid_geom_types(schema_geometry, driver)
    if valid >= ALL_GEOMETRY_TYPES:
        return df
    norm = F.regexp_replace(F.col(geom_col), "^[3D ]+", "")
    ok = F.col(geom_col).isNull() | norm.isin(*sorted(valid))
    gated = F.when(ok, F.col(geom_col)).otherwise(F.raise_error(F.concat(
        F.lit("GeometryTypeValidationError: record geometry type "),
        F.col(geom_col),
        F.lit(f" does not match collection schema {schema_geometry!r}"))))
    return df.withColumn(geom_col, gated)
