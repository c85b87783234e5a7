"""Each fallback catches only the failure it handles.

For every ``except`` that turns a failure into a fallback, the handled
case still falls back, and an unrelated error from the same callee (a
``RuntimeError`` planted with monkeypatch) propagates instead of being
swallowed.
"""

import io

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import fiona_spark
from fiona_spark import io as fs_io
from fiona_spark.errors import AttributeFilterError
from fiona_spark.operators import filters
from fiona_spark.sources import catalog, drivers, iceberg_like


def _boom(*_a, **_k):
    raise RuntimeError("planted")


def _parquet_with_unknown_extension(tmp_path):
    p = str(tmp_path / "layer.bin")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    return p


def where_clause(spark, tmp_path, monkeypatch, planted):
    df = spark.range(3)
    if planted:
        monkeypatch.setattr(filters.F, "expr", _boom)
        filters.filter_where(df, "id > 1")
    else:
        with pytest.raises(AttributeFilterError):
            filters.filter_where(df, "id >")


def driver_from_extension(spark, tmp_path, monkeypatch, planted):
    p = _parquet_with_unknown_extension(tmp_path)
    if planted:
        monkeypatch.setattr(drivers, "driver_from_extension", _boom)
    df, drv = catalog.open_any(spark, p)
    assert drv == "parquet" and df.count() == 2


def table_crs(spark, tmp_path, monkeypatch, planted):
    p = _parquet_with_unknown_extension(tmp_path)
    if planted:
        monkeypatch.setattr(iceberg_like, "table_crs", _boom)
    assert catalog.info(spark, p)["crs"] == "EPSG:4326"


def opener_sidecar(spark, tmp_path, monkeypatch, planted):
    for ext in (".shp", ".dbf"):        # no .shx, .cpg or .prj
        (tmp_path / f"a{ext}").write_bytes(b"x")
    if planted:
        read = fs_io._opener_read
        monkeypatch.setattr(fs_io, "_opener_read", lambda opener, path: (
            read(opener, path) if path.endswith(".shp") else _boom()))
    local = fs_io.materialize_via_opener(str(tmp_path / "a.shp"), io.open)
    with open(local[:-4] + ".dbf", "rb") as fh:
        assert fh.read() == b"x"


def write_only_driver(spark, tmp_path, monkeypatch, planted):
    if planted:
        open_ = fiona_spark.open
        monkeypatch.setattr(fiona_spark, "open", lambda *a, mode="r", **k: (
            _boom() if mode == "r" else open_(*a, mode=mode, **k)))
    schema = {"geometry": "Point", "properties": {"name": "str"}}
    with fiona_spark.open_collection(spark, str(tmp_path / "p.sql"), "w",
                                     schema=schema, driver="pgdump") as dst:
        dst.write({"type": "Feature", "id": "1", "properties": {"name": "a"},
                   "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}})
        dst.flush()
        assert dst._df is not None


@pytest.mark.parametrize("planted", [False, True], ids=["handled", "planted"])
@pytest.mark.parametrize("case", [where_clause, driver_from_extension,
                                  table_crs, opener_sidecar,
                                  write_only_driver],
                         ids=lambda f: f.__name__)
def test_fallback_catches_only_its_failure(spark, tmp_path, monkeypatch,
                                           case, planted):
    if planted:
        with pytest.raises(RuntimeError, match="planted"):
            case(spark, tmp_path, monkeypatch, planted)
    else:
        case(spark, tmp_path, monkeypatch, planted)
