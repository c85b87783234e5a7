"""Aggregate operators: count, extent, grouped bounds, info, reduce.

Set-oriented forms of the reference's layer-level aggregates:
``len(collection)`` (`fiona/collection.py:583-590`), layer extent
(`fiona/ogrext.pyx:1145-1155` OGR_L_GetExtent), per-feature bounds
(`fiona/ogrext.pyx:175-194`), ``fio bounds`` grouped min/max
(`fiona/fio/bounds.py:44-89`), ``fio info`` summary
(`fiona/fio/info.py:42-78`), and the ``fio reduce`` dissolve
(`fiona/features.py:282-316`).

Parquet row-group statistics make count/extent near-metadata-only —
the Catalyst analogue of OGR's FASTFEATURECOUNT / FASTGETEXTENT
capability fast paths (`fiona/ogrext.pyx:56-71`).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pac
from pyspark.sql import DataFrame, functions as F, types as T

from .. import geom, schema
from ..errors import ReduceError


def count(df: DataFrame) -> int:
    return df.count()


def extent(df: DataFrame, bbox_cols=("xmin", "ymin", "xmax", "ymax")) -> DataFrame:
    """Layer bbox as a single row (xmin, ymin, xmax, ymax)."""
    x0, y0, x1, y1 = bbox_cols
    return df.agg(F.min(x0).alias("xmin"), F.min(y0).alias("ymin"),
                  F.max(x1).alias("xmax"), F.max(y1).alias("ymax"))


def bounds_grouped(df: DataFrame, keys, bbox_cols=("xmin", "ymin", "xmax", "ymax")) -> DataFrame:
    """``fio bounds`` without --explode: min/max per group."""
    x0, y0, x1, y1 = bbox_cols
    return df.groupBy(*keys).agg(
        F.min(x0).alias("xmin"), F.min(y0).alias("ymin"),
        F.max(x1).alias("xmax"), F.max(y1).alias("ymax"))


def feature_bounds(df: DataFrame, xs: str = "xs", ys: str = "ys") -> DataFrame:
    """Per-feature bounds from coordinate arrays (`fiona.bounds`,
    `fiona/__init__.py:654-659`) — JVM-side array min/max, no UDF."""
    return (df.withColumn("xmin", F.array_min(xs))
            .withColumn("ymin", F.array_min(ys))
            .withColumn("xmax", F.array_max(xs))
            .withColumn("ymax", F.array_max(ys)))


def info(df: DataFrame, bbox_cols=("xmin", "ymin", "xmax", "ymax")) -> dict:
    """``fio info``-style one-record summary: count, bounds, schema."""
    row = (df.agg(F.count(F.lit(1)).alias("count"),
                  F.min(bbox_cols[0]).alias("xmin"), F.min(bbox_cols[1]).alias("ymin"),
                  F.max(bbox_cols[2]).alias("xmax"), F.max(bbox_cols[3]).alias("ymax"))
           .collect()[0])
    return {"count": row["count"],
            "bounds": (row["xmin"], row["ymin"], row["xmax"], row["ymax"]),
            "schema": {f.name: f.dataType.simpleString() for f in df.schema.fields}}


#: The row every dissolve stage emits (plus the carried group key).
_DISSOLVED = ("rings_xs array<array<double>>, rings_ys array<array<double>>, "
              "n_members long, exact boolean")


def _members(*cols) -> list:
    """``cols`` plus ``n_members`` 1 and ``exact`` true: each feature as
    a one-member dissolve input."""
    return [*cols, F.lit(1).cast("long").alias("n_members"),
            F.lit(True).alias("exact")]


def _dissolve(tbl: pa.Table) -> pa.Table:
    """The one union body of both dissolves, at every stage: the
    features of ``tbl`` (``rings_xs``/``rings_ys``, ``n_members``,
    ``exact``; any other column is a group key, carried from the first
    row) become one row.  Whole features union exactly through
    :func:`geom.feature_union`, holes and parts included; a union
    degeneracy takes the convex hull of every vertex instead.
    ``n_members`` sums, and ``exact`` holds only if every input was
    exact and the union succeeded.  Empty and null rings add nothing; a
    non-finite vertex raises ``ValueError`` before the union runs."""
    def runs(v, counts):        # consecutive runs of `counts` items
        return [v[e - n:e] for e, n in zip(np.cumsum(counts), counts)]

    fr = schema.read_rings(tbl["rings_xs"], tbl["rings_ys"])
    if not (np.isfinite(fr.x).all() and np.isfinite(fr.y).all()):
        raise ValueError("dissolve input has a non-finite vertex")
    try:
        uxs, uys = geom.feature_union(
            runs(runs(fr.x, fr.ring_lens), fr.ring_nx),
            runs(runs(fr.y, fr.ring_lens), fr.ring_nx))
        exact = pac.all(tbl["exact"]).as_py()
    except geom.UnionDegeneracyError:
        hx, hy = geom.convex_hull(fr.x, fr.y)
        uxs, uys, exact = [hx], [hy], False
    out = schema.rings_array([None], np.concatenate(uxs or [[]]),
                             np.concatenate(uys or [[]]),
                             [len(r) for r in uxs], [len(uxs)], [False])
    keys = [c for c in tbl.column_names if c not in
            ("rings_xs", "rings_ys", "n_members", "exact")]
    return pa.table({**{c: tbl[c].slice(0, 1) for c in keys},
                     "rings_xs": out.field("rings_xs"),
                     "rings_ys": out.field("rings_ys"),
                     "n_members": pa.array([pac.sum(tbl["n_members"]).as_py()],
                                           pa.int64()),
                     "exact": [exact]})


def _dissolve_partition(batches):
    """``mapInArrow`` body: one :func:`_dissolve` row per partition."""
    batches = [b for b in batches if b.num_rows]
    if batches:
        yield from _dissolve(pa.Table.from_batches(batches)).to_batches()


def dissolve_union(df: DataFrame) -> tuple:
    """``fio reduce '(unary_union c)'`` equivalent: dissolve every
    feature, holes and parts included, to one multi-ring geometry —
    EXACT via the boundary-fragment union kernel.

    Hierarchical union (the treeAggregate shape from SURVEY.md section
    2.4), :func:`_dissolve` at every stage: per partition (output
    bounded by the partition's union boundary, not its row count), in
    distributed rounds of ``fanin`` until at most ``fanin`` partials
    remain, then at the driver.  Rows with no non-empty ring (null,
    EMPTY, or only empty or null rings) are dropped in the plan.
    Returns ``(rings_xs, rings_ys, exact)`` — outer rings CCW, holes
    CW.  Raises ReduceError when no feature has a ring
    (`fiona/features.py:282-316`).  A frame with only ``xs``/``ys``
    enters through :func:`schema.with_rings`.
    """
    parts = (schema.with_rings(df)
             .filter(F.exists("rings_xs", lambda r: F.size(r) > 0))
             .select(*_members("rings_xs", "rings_ys"))
             .mapInArrow(_dissolve_partition, _DISSOLVED))
    # at 10^5 input partitions the driver final would otherwise absorb
    # every partition's boundary serially; each round has at most one
    # row per partition, so round r handles ceil(p / fanin^r) rows
    fanin = 32
    p = max(df.rdd.getNumPartitions(), 1)
    while p > fanin:
        p = math.ceil(p / fanin)
        parts = parts.repartition(p).mapInArrow(_dissolve_partition,
                                                _DISSOLVED)
    tbl = parts.toArrow()
    if not tbl.num_rows:
        raise ReduceError("reduce over empty collection")
    row = _dissolve(tbl).to_pylist()[0]
    return row["rings_xs"], row["rings_ys"], row["exact"]


def dissolve_components(df: DataFrame, id_col: str,
                        max_pairs: int = 2_000_000) -> DataFrame:
    """Connected-component dissolve with EXACT even-odd union per
    component: features whose envelopes (over every ring) touch are
    grouped into connected components (distributed range join for
    candidate edges), then each component dissolves independently
    through :func:`_dissolve` — holes and parts included, the convex
    hull ONLY on a union degeneracy, flagged per row in ``exact``.
    Singletons, and rows with no ring (null stays null), keep their
    rings untouched.  `fio reduce '(unary_union c)'` semantics
    (fiona/features.py:282-316).  Output: one row per component
    (component, rings_xs, rings_ys, n_members, exact).  A frame with
    only ``xs``/``ys`` enters through :func:`schema.with_rings`.

    Scale shape: the edge list of a dissolve is bounded by the overlap
    degree, not the table size.  ``max_pairs`` is a driver FAST-LANE
    bound (single ``limit(max_pairs+1).collect()`` job); past it the
    component labeling runs fully distributed via
    ``dedup.connected_components_df`` — no size ceiling.
    """
    from . import dedup, spatial

    base = schema.with_rings(df).select(id_col, *[
        F.col(c).cast("array<array<double>>") for c in ("rings_xs", "rings_ys")])
    env = schema.with_ring_columns(base)
    a = env.select(F.col(id_col).alias("ida"), "xmin", "ymin", "xmax", "ymax")
    b = env.select(F.col(id_col).alias("idb"), "xmin", "ymin", "xmax", "ymax")
    pairs_df = (spatial.range_join(a, b, a_cols=("ida",), b_cols=("idb",),
                                   broadcast_b=False)
                .filter(F.col("ida") < F.col("idb")))
    # ONE job for guard + fetch (r3 verdict: count-then-collect ran the
    # range join twice); driver state is bounded by the EDGE list only
    # — singleton features, the overwhelming majority of a big layer,
    # never reach the driver: they take component = own id via the
    # left_anti join below
    pairs = pairs_df.limit(max_pairs + 1).collect()
    spark = df.sparkSession

    comp_t = ("string" if isinstance(df.schema[id_col].dataType, T.StringType)
              else "long")
    singles = base
    multi_out = None
    comp_df = None
    bcast_ok = True
    if len(pairs) > max_pairs:
        # distributed lane: min-id label propagation, no driver state,
        # no edge ceiling; labels identical to the union-find's
        comp_df = (dedup.connected_components_df(pairs_df, "ida", "idb")
                   .select(F.col("id").alias(id_col),
                           F.col("group").alias("component")))
        bcast_ok = False          # edge set exceeded the driver bound
    elif pairs:
        edge_ids = sorted({r["ida"] for r in pairs}
                          | {r["idb"] for r in pairs})
        parent = {i: i for i in edge_ids}

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for r in pairs:
            ra, rb = find(r["ida"]), find(r["idb"])
            if ra != rb:
                parent[ra] = rb
        # label components by their MIN member id: deterministic,
        # independent of union order, and reproducible in ANSI SQL
        # (the driver oracle rebuilds it via transitive closure)
        members: dict = {}
        for i in edge_ids:
            members.setdefault(find(i), []).append(i)
        label = {}
        for ms in members.values():
            m = min(ms)
            for i in ms:
                label[i] = m
        comp_df = spark.createDataFrame(
            pd.DataFrame({id_col: edge_ids,
                          "component": [label[i] for i in edge_ids]}))
    if comp_df is not None:
        grouped_ids = comp_df.select(id_col)
        singles = base.join(
            F.broadcast(grouped_ids) if bcast_ok else grouped_ids,
            id_col, "left_anti")
        # every component comes from an edge: at least 2 members
        multi_out = (base.join(F.broadcast(comp_df) if bcast_ok else comp_df,
                               id_col)
                     .select(*_members(F.col("component").cast(comp_t),
                                       "rings_xs", "rings_ys"))
                     .groupBy("component")
                     .applyInArrow(_dissolve, f"component {comp_t}, {_DISSOLVED}"))

    # singletons: pure column ops — no grouping, no Python, no driver
    single_out = singles.select(*_members(
        F.col(id_col).cast(comp_t).alias("component"), "rings_xs", "rings_ys"))
    if multi_out is None:
        return single_out
    return multi_out.unionByName(single_out)


def reduce_zip_properties(df: DataFrame, prop_cols: list[str],
                          order_by: str, xs: str = "xs",
                          ys: str = "ys") -> DataFrame:
    """``fio reduce --zip-properties`` (`fiona/fio/features.py:242-248`):
    reduce the collection to ONE feature whose properties are LISTS of
    the input values, alongside the collected geometry parts.

    ``order_by`` fixes the list order (the reference inherits stdin
    order; a distributed table needs an explicit key).  Single shuffle:
    sort-within-struct via collect_list of (key, value) + array_sort.
    """
    aggs = []
    for c in prop_cols:
        pair = F.struct(F.col(order_by).alias("k"), F.col(c).alias("v"))
        aggs.append(F.transform(F.array_sort(F.collect_list(pair)),
                                lambda s: s["v"]).alias(c))
    geom_pair = F.struct(F.col(order_by).alias("k"),
                         F.col(xs).alias("xs"), F.col(ys).alias("ys"))
    sorted_geoms = F.array_sort(F.collect_list(geom_pair))
    aggs.append(F.transform(sorted_geoms, lambda s: s["xs"]).alias("xs_list"))
    aggs.append(F.transform(sorted_geoms, lambda s: s["ys"]).alias("ys_list"))
    aggs.append(F.count(F.lit(1)).alias("n_features"))
    return df.agg(*aggs)


def collect_geometries(df: DataFrame, keys, xs: str = "xs", ys: str = "ys") -> DataFrame:
    """N geometries -> one GeometryCollection-style row per key
    (`fiona/features.py:45-58` collect)."""
    return df.groupBy(*keys).agg(
        F.collect_list(xs).alias("xs_list"),
        F.collect_list(ys).alias("ys_list"),
        F.count(F.lit(1)).alias("n_parts"))


def dump_parts(df: DataFrame, keys, xs_list: str = "xs_list",
               ys_list: str = "ys_list") -> DataFrame:
    """Multi-geometry -> one row per part, stamping the part index —
    ``fio map --dump-parts`` (`fiona/features.py:61-82`) / ``fio
    distrib`` parent stamping (`fiona/fio/distrib.py:16-35`).  Inverse
    of :func:`collect_geometries`; pure JVM posexplode."""
    return (df.select(*keys, F.posexplode(
        F.arrays_zip(xs_list, ys_list)).alias("part_idx", "_p"))
        .select(*keys, "part_idx",
                F.col(f"_p.{xs_list}").alias("xs"),
                F.col(f"_p.{ys_list}").alias("ys")))
