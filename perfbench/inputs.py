"""Seeded benchmark inputs, generated untimed into the benchmark's cache.

Images come from ``fiona_spark.fixtures.gen_image`` (the same row
generator the test fixtures use), in fixed chunks of ``CHUNK`` rows:
chunk ``c`` holds rows ``[c * CHUNK, (c + 1) * CHUNK)``.  The seed picks
the row-index offset: a run with ``n`` images reads the chunks starting
at ``seed % SLOTS``, so the same seed always gives the same rows and
different seeds shift the window.  Chunks are written once as parquet
under ``perfbench/.cache/<code tag>`` and reused by later runs in the
same checkout, so generation cost stays out of every run but the first.
The tag hashes the code that makes inputs and references (``CODE``), so
a change to any of it starts a fresh cache instead of reading stale rows
or stale expected digests.

Zones are the fixture polygon layer (``gen_zones_pdf``) at a fixed count
per workload size.
"""

from __future__ import annotations

import hashlib
import math
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNK = 2500
SLOTS = 16
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# everything the cached inputs and reference digests are computed by
CODE = ["fiona_spark/fixtures.py", "fiona_spark/codec.py",
        "fiona_spark/geom.py", "perfbench/inputs.py", "perfbench/reference.py"]


def code_tag() -> str:
    h = hashlib.sha256()
    for rel in CODE:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


CACHE = os.path.join(HERE, ".cache", code_tag())

IMAGE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("lng", pa.float64()), ("lat", pa.float64()),
    ("xmin", pa.float64()), ("ymin", pa.float64()), ("xmax", pa.float64()),
    ("ymax", pa.float64())])

ZONE_SCHEMA = pa.schema([
    ("zone_id", pa.string()), ("xs", pa.list_(pa.float64())),
    ("ys", pa.list_(pa.float64())), ("xmin", pa.float64()),
    ("ymin", pa.float64()), ("xmax", pa.float64()), ("ymax", pa.float64()),
    ("clng", pa.float64()), ("clat", pa.float64())])


def chunk_ids(seed: int, n_images: int) -> list[int]:
    """Chunks holding the ``n_images`` rows of ``seed``."""
    start = seed % SLOTS
    return list(range(start, start + math.ceil(n_images / CHUNK)))


def chunk_path(c: int, cache: str = CACHE) -> str:
    return os.path.join(cache, "images", f"chunk_{c:05d}.parquet")


def _write_chunk(args) -> str:
    c, cache = args
    from fiona_spark import fixtures

    pdf = fixtures.gen_images_pdf(c * CHUNK, (c + 1) * CHUNK)
    tbl = pa.Table.from_pandas(pdf, schema=IMAGE_SCHEMA, preserve_index=False)
    path = chunk_path(c, cache)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def ensure_images(chunks: list[int], cache: str = CACHE,
                  procs: int = 2) -> list[str]:
    """Parquet paths of ``chunks``, generating the missing ones."""
    os.makedirs(os.path.join(cache, "images"), exist_ok=True)
    missing = [c for c in chunks if not os.path.exists(chunk_path(c, cache))]
    if len(missing) > 1 and procs > 1:
        ctx = multiprocessing.get_context("spawn")
        with ProcessPoolExecutor(max_workers=procs, mp_context=ctx) as ex:
            list(ex.map(_write_chunk, [(c, cache) for c in missing]))
    else:
        for c in missing:
            _write_chunk((c, cache))
    return [chunk_path(c, cache) for c in chunks]


def read_chunk(c: int, cache: str = CACHE, columns=None) -> pa.Table:
    return pq.read_table(chunk_path(c, cache), columns=columns)


def ensure_zones(n_zones: int, cache: str = CACHE) -> str:
    """Parquet path of the ``n_zones`` fixture polygon layer."""
    from fiona_spark import fixtures

    path = os.path.join(cache, f"zones_{n_zones}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache, exist_ok=True)
        pdf = fixtures.gen_zones_pdf(n_zones)[ZONE_SCHEMA.names]
        pdf = pdf.assign(xs=[np.asarray(v, np.float64) for v in pdf["xs"]],
                         ys=[np.asarray(v, np.float64) for v in pdf["ys"]])
        tbl = pa.Table.from_pandas(pdf, schema=ZONE_SCHEMA,
                                   preserve_index=False)
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
    return path
