"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``fiona_spark.contract``; this file is the thin
driver-facing adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def _ship_pkg(spark: SparkSession) -> None:
    """Make fiona_spark importable on executor Python workers."""
    from fiona_spark.session import ship_package
    ship_package(spark.sparkContext)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: PIP spatial join of
    derived image points against derived zones, per-zone stats plus the
    kNN rank-1 assignment — one DataFrame, deterministic."""
    _ship_pkg(spark)
    from pyspark.sql import functions as F

    from fiona_spark.functions import derived
    from fiona_spark.operators import spatial

    sf_dir = "/root/testdata/sf0.001"
    pts = derived.pts_df(spark, sf_dir)
    zones = derived.zones_rect_df(spark, sf_dir)
    pip = spatial.pip_join(pts, zones, res=6, point_cols=("image_id",),
                           zone_cols=("zone_key",))
    return (pip.groupBy("zone_key")
            .agg(F.count(F.lit(1)).alias("n_images"))
            .orderBy("zone_key"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from fiona_spark import contract

    def wrap(fn):
        def run(spark, sf_dir):
            _ship_pkg(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, fn in contract.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from fiona_spark import contract
    return {k: v for k, v in contract.ORACLES.items() if v is not None}
