"""The benchmark's workloads: which inputs, and which public calls per iteration.

Each operator call (:class:`Op`) returns either a DataFrame, which the
runner ends in :func:`reference.spark_digest`, or a ready digest.  Its
``kind`` names the reference it is checked against.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import reference as ref

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")

FOOTPRINT = ["image_id", "lng", "lat", "xmin", "ymin", "xmax", "ymax"]
BBOX = ["image_id", "xmin", "ymin", "xmax", "ymax"]
PAYLOAD = ["image_id", "bytes", "fmt", "w", "h", "phash",
           "xmin", "ymin", "xmax", "ymax"]


@dataclass
class Op:
    name: str
    kind: str
    fn: Callable          # (ctx) -> DataFrame | digest list


@dataclass
class Workload:
    name: str
    why: str
    n_images: int
    n_zones: int | None
    columns: list          # input columns the operators read
    ops: list = field(default_factory=list)


@dataclass
class Ctx:
    images: object
    zones: object
    n_zones: int | None
    expected: dict


# ---------------------------------------------------------------------------
# operator calls
# ---------------------------------------------------------------------------

def _pip(ctx, **kw):
    from fiona_spark.operators import spatial
    return spatial.pip_join(ctx.images, ctx.zones, **kw)


def _knn(ctx, **kw):
    from fiona_spark.operators import spatial
    return spatial.knn_join(ctx.images, ctx.zones, k=ref.KNN_K, **kw)


def covering(ctx):
    from fiona_spark.operators import spatial
    return spatial.with_covering_cells(ctx.images.select(*BBOX),
                                       ref.COVER_RES)


def _blocks(ctx):
    from fiona_spark.operators import spatial
    return spatial.block_tiles(ctx.images, res=ref.BLOCK_RES, block=ref.BLOCK)


def _stats(ctx):
    from fiona_spark.operators import images
    return images.decode_stats(ctx.images)


def _verify(ctx):
    from fiona_spark.operators import images
    return images.verify_roundtrip(ctx.images)


def checkpoint_dir(i: int) -> str:
    return os.path.join(WORK, "ckpt", f"run_{i:04d}")


def run_checkpointed(ctx, out_dir: str):
    """The production submit-job shape: covering cells sharded by the
    res-2 cell of each footprint's center, checkpointed per shard."""
    from pyspark.sql import functions as F

    from fiona_spark import cells, checkpoint

    shard = F.expr(cells.cell_id_sql("(xmin + xmax) / 2e0",
                                     "(ymin + ymax) / 2e0", ref.SHARD_RES))
    man = checkpoint.run_checkpointed(
        covering(ctx).withColumn("_ck_shard", shard), out_dir, "_ck_shard")
    return manifest_digest(man)


def manifest_digest(man) -> list[int]:
    return ref.digest_rows(
        f"{r.shard}|{r.status}|{r.rows}|{r.n_files}|{r.cell_min}|{r.cell_max}"
        for r in man.itertuples(index=False))


def clear_checkpoints() -> None:
    shutil.rmtree(os.path.join(WORK, "ckpt"), ignore_errors=True)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

WORKLOADS = {w.name: w for w in [
    Workload(
        "spatial_join",
        "broadcast-fused PIP and kNN kernels plus the Catalyst covering, "
        "footprint columns only; payload decode stays idle",
        n_images=50_000, n_zones=3350, columns=FOOTPRINT,
        ops=[Op("pip_join", "pip", _pip),
             Op("with_covering_cells", "cover", covering),
             Op("knn_join", "knn", _knn)]),
    Workload(
        "raster_payload",
        "payload bytes through Arrow and the codec: block tiles, decode "
        "stats, round-trip verify; the spatial join kernels stay idle",
        n_images=5_000, n_zones=None, columns=PAYLOAD,
        ops=[Op("block_tiles", "blocks", _blocks),
             Op("decode_stats", "stats", _stats),
             Op("verify_roundtrip", "verify", _verify)]),
]}

# the shuffled lanes: a zone guard below the zone count stands in for a
# zone layer too large to collect on the driver
SHUFFLED_OPS = [
    Op("pip_join_shuffled", "pip",
       lambda ctx: _pip(ctx, max_broadcast_zones=ctx.n_zones - 1)),
    Op("knn_join_shuffled", "knn",
       lambda ctx: _knn(ctx, max_broadcast_zones=ctx.n_zones - 1)),
]
SUBSET_OPS = [Op("pip_join_subset", "pip", _pip),
              Op("knn_join_subset", "knn", _knn)]


def checkpoint_op(i: int, name: str = "run_checkpointed") -> Op:
    return Op(name, "manifest",
              lambda ctx: run_checkpointed(ctx, checkpoint_dir(i)))
