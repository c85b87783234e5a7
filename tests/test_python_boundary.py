"""The JVM<->Python boundary: the per-task zip-directory re-read guard
installed by ``fiona_spark/__init__.py`` inside Spark Python tasks, the
py-files zip shipped once per context, and the host-sized driver heap."""

import importlib.util
import os
import types
import zipfile
import zipimport

import fiona_spark
from fiona_spark import fixtures
from fiona_spark.operators import spatial


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_zip_invalidation_rereads_only_changed_archives(tmp_path):
    arc = str(tmp_path / "pkg.zip")
    _write_zip(arc, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(arc)
    inv = fiona_spark._zip_invalidate_caches
    inv(imp)                       # first call reads and records the key
    files = imp._files
    inv(imp)
    assert imp._files is files     # unchanged archive: no re-read
    assert imp.find_spec("mod_b") is None

    # rewritten archive: a new member and a new mtime
    _write_zip(arc, {"mod_a.py": "X = 1\n", "mod_b.py": "Y = 2\n"})
    st = os.stat(arc)
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    inv(imp)
    assert imp._files is not files
    spec = imp.find_spec("mod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    # deleted archive: stat fails, the stock method empties the table
    os.remove(arc)
    inv(imp)
    assert imp._files == {}


def test_zip_invalidation_rereads_while_stat_fails(tmp_path, monkeypatch):
    arc = str(tmp_path / "pkg.zip")
    _write_zip(arc, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(arc)

    def no_stat(path):
        raise PermissionError(path)

    monkeypatch.setattr(fiona_spark, "_os", types.SimpleNamespace(stat=no_stat))
    inv = fiona_spark._zip_invalidate_caches
    inv(imp)
    _write_zip(arc, {"mod_a.py": "X = 1\n", "mod_b.py": "Y = 2\n"})
    inv(imp)                       # no key to trust: read again
    assert "mod_b.py" in imp._files


def test_driver_keeps_the_stock_method():
    assert zipimport.zipimporter.invalidate_caches is fiona_spark._zip_reread


def test_python_tasks_run_the_wrapper(spark):
    """After an engine UDF ran, a Python task sees the wrapper installed
    (identity, not timing)."""
    pts = spark.createDataFrame(fixtures.gen_images_pdf(0, 50),
                                schema=fixtures.IMAGES_SCHEMA)
    zones = spark.createDataFrame(fixtures.gen_zones_pdf(10),
                                  schema=fixtures.ZONES_SCHEMA)
    assert spatial.knn_join(pts, zones, k=1).count() == 50

    def probe(batches):
        import zipimport

        import pyarrow as pa

        import fiona_spark
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"wrapped": [
            zipimport.zipimporter.invalidate_caches
            is fiona_spark._zip_invalidate_caches]})

    got = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, "wrapped boolean").collect())
    assert [r.wrapped for r in got] == [True]


def test_ship_package_adds_the_pyfiles_zip_once(spark):
    """get_spark ships the zip through ship_package; calling it again
    (a reused session) must not append another copy to the import path."""
    from fiona_spark.session import PYFILES_ZIP, ship_package
    sc = spark.sparkContext
    ship_package(sc)
    ship_package(sc)
    assert sc._python_includes.count(PYFILES_ZIP) == 1
    assert [os.path.basename(f) for f in sc.listFiles].count(PYFILES_ZIP) == 1


def test_default_driver_mem_fits_the_host():
    from fiona_spark.session import default_driver_mem
    mem = default_driver_mem()
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("g")
    gib = int(mem[:-1])
    assert 1 <= gib <= 12
    assert gib == 1 or gib * 2**30 <= total // 4
