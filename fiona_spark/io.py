"""In-memory dataset API (reference `fiona/io.py:14-152` MemoryFile /
ZipMemoryFile / BytesCollection).

The reference backs these with GDAL's /vsimem/ virtual filesystem; the
Spark analogue is a spill directory the session can read with any
registered driver — bytes in, DataFrame out, no user-visible file
management.  Zip members map to Spark's ability to read a extracted
member path.
"""

from __future__ import annotations

import os
import tempfile
import uuid
import zipfile

from pyspark.sql import DataFrame


def _opener_read(opener, path: str) -> bytes:
    """Read ``path`` through a Python opener: an fsspec-like filesystem
    (has ``.open(path, mode)``) or a callable like ``io.open``."""
    f = opener.open(path, "rb") if hasattr(opener, "open") else opener(path, "rb")
    with f:
        return f.read()


def materialize_via_opener(path: str, opener) -> str:
    """The reference's Python-opener VSI plugin (`fiona/_vsiopener.pyx`,
    `fiona.open(..., opener=)`): pull dataset bytes through a
    user-supplied opener — ``io.open``, an fsspec filesystem, a tiledb
    VFS, anything with ``open(path, 'rb')`` — into a scratch directory
    the registered drivers can read.  Shapefile sidecars are fetched
    through the same opener, exactly like GDAL requests them through
    the VSI plugin."""
    data = _opener_read(opener, path)
    d = tempfile.mkdtemp(prefix="fs_pyopener_")
    base = os.path.basename(path.rstrip("/")) or "dataset"
    local = os.path.join(d, base)
    with open(local, "wb") as out:
        out.write(data)
    if base.lower().endswith(".shp"):
        stem_remote = path[: -len(".shp")]
        stem_local = local[: -len(".shp")]
        for ext in (".shx", ".dbf", ".cpg", ".prj"):
            for cand in (stem_remote + ext, stem_remote + ext.upper()):
                try:
                    side = _opener_read(opener, cand)
                except OSError:          # no such sidecar
                    continue
                with open(stem_local + ext, "wb") as out:
                    out.write(side)
                break
    return local


def publish_via_opener(local_path: str, path: str, opener) -> None:
    """Write-mode counterpart: copy a locally written single-file
    dataset (plus shapefile sidecars) back out through the opener."""
    def _write(src: str, dst: str) -> None:
        f = (opener.open(dst, "wb") if hasattr(opener, "open")
             else opener(dst, "wb"))
        with f, open(src, "rb") as fh:
            f.write(fh.read())
    _write(local_path, path)
    if local_path.lower().endswith(".shp"):
        stem_local = local_path[: -len(".shp")]
        stem_remote = path[: -len(".shp")]
        for ext in (".shx", ".dbf", ".cpg", ".prj"):
            if os.path.exists(stem_local + ext):
                _write(stem_local + ext, stem_remote + ext)


class MemoryFile:
    """Bytes-backed dataset, readable by any registered driver.

    >>> with MemoryFile(geojson_bytes, ext=".geojson") as mf:
    ...     df = mf.open(spark)
    """

    def __init__(self, initial_bytes: bytes = b"", filename: str | None = None,
                 ext: str = ""):
        self._dir = tempfile.mkdtemp(prefix="fs_memfile_")
        name = filename or f"memfile-{uuid.uuid4().hex[:8]}{ext}"
        self.name = os.path.join(self._dir, name)
        self.closed = False
        self._w = open(self.name, "wb")
        if initial_bytes:
            self._w.write(initial_bytes)
            self._w.flush()

    # -- file-like surface (reference MemoryFileBase) ---------------------

    def write(self, data: bytes) -> int:
        if self.closed:
            raise ValueError("I/O on closed MemoryFile")
        n = self._w.write(data)
        self._w.flush()
        return n

    def getbuffer(self) -> bytes:
        self._w.flush()
        with open(self.name, "rb") as fh:
            return fh.read()

    def exists(self) -> bool:
        return os.path.getsize(self.name) > 0

    def open(self, spark, driver: str | None = None, **opts) -> DataFrame:
        """Open the buffered dataset as a DataFrame (fiona.io.MemoryFile
        .open returns a Collection)."""
        from .sources import drivers
        return drivers.open_dataset(spark, self.name, driver=driver, **opts)

    def close(self) -> None:
        if not self.closed:
            self._w.close()
            self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


class ZipMemoryFile(MemoryFile):
    """Zip archive in memory; members open by path (reference
    `fiona/io.py:96-128`)."""

    def __init__(self, initial_bytes: bytes):
        super().__init__(initial_bytes, ext=".zip")

    def open(self, spark, path: str | None = None, driver: str | None = None,
             **opts) -> DataFrame:
        if path is None:
            raise ValueError("ZipMemoryFile.open needs a member path")
        self._w.flush()
        out_dir = os.path.join(self._dir, "extracted")
        with zipfile.ZipFile(self.name) as zf:
            member = path.lstrip("/")
            zf.extract(member, out_dir)
            # sidecar members share the stem (shapefile .dbf/.shx/.cpg
            # next to .shp — the reference's zip:// shapefile case)
            stem = os.path.splitext(member)[0] + "."
            for other in zf.namelist():
                if other != member and other.startswith(stem):
                    zf.extract(other, out_dir)
        from .sources import drivers
        return drivers.open_dataset(spark, os.path.join(out_dir, member),
                                    driver=driver, **opts)


class BytesCollection:
    """A collection backed by a bytes buffer, GeoJSON by default
    (reference `fiona/io.py:130-152`)."""

    def __init__(self, bytesbuf: bytes, ext: str = ".geojson"):
        self._mf = MemoryFile(bytesbuf, ext=ext)
        self.closed = False

    def open(self, spark, **opts) -> DataFrame:
        return self._mf.open(spark, **opts)

    def close(self) -> None:
        self._mf.close()
        self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
