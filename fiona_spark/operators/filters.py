"""Scan-side operators: bbox/where/mask filters, slice, FID access.

Set-oriented re-expression of Fiona's ``Collection.filter(bbox=, where=,
mask=)`` and slicing (`fiona/collection.py:406-437`, iterator window
`fiona/ogrext.pyx:1852-1978`).  All predicates are plain Catalyst
expressions so Parquet min/max pushdown and column pruning apply — the
declarative analogue of OGR's ``SetSpatialFilterRect`` /
``SetAttributeFilter`` / ``SetIgnoredFields`` pushdowns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window, functions as F, types as T

from .. import geom
from ..errors import AttributeFilterError


def filter_bbox(df: DataFrame, bbox, bbox_cols=("xmin", "ymin", "xmax", "ymax")) -> DataFrame:
    """Keep rows whose envelope intersects (w, s, e, n).

    Envelope-test semantics identical to OGR_L_SetSpatialFilterRect
    (`fiona/ogrext.pyx:1818-1820`): may overmatch the true geometry,
    never undermatch.
    """
    w, s, e, n = bbox
    x0, y0, x1, y1 = bbox_cols
    return df.filter((F.col(x1) >= w) & (F.col(x0) <= e)
                     & (F.col(y1) >= s) & (F.col(y0) <= n))


def filter_point_bbox(df: DataFrame, bbox, lng: str = "lng", lat: str = "lat") -> DataFrame:
    """bbox filter for point features (degenerate envelopes)."""
    w, s, e, n = bbox
    return df.filter((F.col(lng) >= w) & (F.col(lng) <= e)
                     & (F.col(lat) >= s) & (F.col(lat) <= n))


def filter_where(df: DataFrame, where: str) -> DataFrame:
    """SQL WHERE-string filter.

    Spark SQL is a superset of the OGR SQL WHERE dialect Fiona passes
    through (`fiona/ogrext.pyx:1830-1840`).  Invalid expressions raise
    AttributeFilterError, mirroring Fiona's error contract
    (`fiona/collection.py:431-436`).
    """
    try:
        cond = F.expr(where)
        return df.filter(cond)
    except AnalysisException as exc:   # ParseException is a subclass
        raise AttributeFilterError(f"invalid where clause: {where!r}: {exc}") from exc


def filter_mask(df: DataFrame, mask_xs, mask_ys, lng: str = "lng", lat: str = "lat",
                exact: bool = False) -> DataFrame:
    """Filter by an arbitrary polygon.

    ``exact=False`` reproduces the reference's documented behavior —
    "may be inaccurate: worst case the geometry's envelope is used"
    (`fiona/collection.py:416-417`).  ``exact=True`` refines with the
    vectorized PIP kernel (envelope prefilter first, so the UDF only
    sees candidates).
    """
    xs = np.asarray(mask_xs, np.float64)
    ys = np.asarray(mask_ys, np.float64)
    env = filter_point_bbox(df, (xs.min(), ys.min(), xs.max(), ys.max()), lng, lat)
    if not exact:
        return env

    @F.pandas_udf(T.BooleanType())
    def pip(px: pd.Series, py: pd.Series) -> pd.Series:
        return pd.Series(geom.points_in_rings(px.to_numpy(np.float64),
                                              py.to_numpy(np.float64),
                                              [xs], [ys]))

    return env.filter(pip(lng, lat))


def _global_row_number(df: DataFrame, order_by: str,
                       n_buckets: int = 64) -> DataFrame:
    """Ascending 0-based position of each row under order_by, WITHOUT a
    single-partition global window.

    Three fully-parallel passes: (1) approx-percentile split points of
    the key (a deterministic dataset aggregate), (2) per-bucket counts
    -> driver-side prefix offsets (n_buckets values), (3) a window
    partitioned BY BUCKET whose row_number is shifted by the bucket
    offset.  Bucket assignment is a pure monotone function of the key
    (count of splits <= value), so the two passes agree without any
    persist.  Falls back to the global window when the key is
    non-numeric or the table fits one bucket.
    """
    numeric = isinstance(df.schema[order_by].dataType, T.NumericType)
    splits: list = []
    if numeric:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        row = df.select(F.percentile_approx(order_by, probs, 10_000)
                        .alias("s")).collect()[0]["s"]
        splits = sorted(set(row or []))
    if not splits:
        # tiny/constant key domain: the global window is the honest plan
        w = Window.orderBy(order_by)
        return df.withColumn("_rn", F.row_number().over(w) - 1)
    lit_arr = F.array(*[F.lit(s) for s in splits])
    bucket = F.size(F.filter(lit_arr, lambda s: F.col(order_by) >= s))
    b = df.withColumn("_bkt", bucket)
    cnt = {r["_bkt"]: r["count"]
           for r in b.groupBy("_bkt").count().collect()}
    offs, acc = [], 0
    for i in range(len(splits) + 1):
        offs.append(acc)
        acc += cnt.get(i, 0)
    off_arr = F.array(*[F.lit(int(o)) for o in offs])
    w = Window.partitionBy("_bkt").orderBy(order_by)
    return (b.withColumn(
        "_rn", F.element_at(off_arr, F.col("_bkt") + 1)
        + F.row_number().over(w) - 1).drop("_bkt"))


def slice_rows(df: DataFrame, start=None, stop=None, step=None,
               order_by: str = "id") -> DataFrame:
    """Deterministic slice with start/stop/step (negative step included).

    Fiona slices the driver's FID order (`fiona/ogrext.pyx:1852-1910`,
    step<0 at `:1852-1910`); a distributed table has no storage order,
    so the contract here is an explicit ``order_by`` column (unique for
    a deterministic result).  Negative indices and negative step require
    a total count — same as the reference's force-count for negative
    slices (`fiona/ogrext.pyx:1862-1877`).  Row numbering is the
    bucketed parallel form (no single-partition exchange — r1 scale
    killer #3).
    """
    step = 1 if step is None else int(step)
    if step == 0:
        raise ValueError("slice step cannot be zero")
    start_i = None if start is None else int(start)
    stop_i = None if stop is None else int(stop)
    need_total = (step < 0 or (start_i is not None and start_i < 0)
                  or (stop_i is not None and stop_i < 0))
    total = df.count() if need_total else None
    if start_i is not None and start_i < 0:
        if step < 0 and total + start_i < 0:
            # python sequence semantics: seq[start::negative_step] is
            # EMPTY when start underflows the front (seq[-5000::-7] on
            # 2000 rows), not row 0's progression
            return df.filter(F.lit(False))
        start_i = max(0, total + start_i)
    if stop_i is not None and stop_i < 0:
        stop_i = total + stop_i

    out = _global_row_number(df, order_by)
    rn = F.col("_rn")
    if step > 0:
        s0 = 0 if start_i is None else start_i
        cond = (rn >= s0) & (((rn - s0) % step) == 0)
        if stop_i is not None:
            cond = cond & (rn < stop_i)
    else:
        # python sequence semantics: seq[start:stop:step], step < 0
        s0 = total - 1 if start_i is None else min(start_i, total - 1)
        k = -step
        cond = (rn <= s0) & (((s0 - rn) % k) == 0)
        if stop_i is not None:
            cond = cond & (rn > stop_i)
    return out.filter(cond).drop("_rn")


_PYEXPR_SUBS = [
    (r"\bf\.properties\.(\w+)", r"\1"),     # f.properties.NAME -> NAME
    (r"\bf\.properties\[(['\"])(\w+)\1\]", r"\2"),
    (r"\bf\.id\b", "id"),
    (r"\band\b", " AND "), (r"\bor\b", " OR "), (r"\bnot\b", " NOT "),
    (r"\bis\s+None\b", " IS NULL"), (r"\bis\s+not\s+None\b", " IS NOT NULL"),
    (r"\bTrue\b", "TRUE"), (r"\bFalse\b", "FALSE"), (r"\bNone\b", "NULL"),
    (r"==", "="),
]


def filter_pyexpr(df: DataFrame, expr: str) -> DataFrame:
    """Legacy ``fio filter``-style Python expression over features.

    The reference's legacy mode evaluates strings like
    ``f.properties.AREA > 0.01 and f.properties.STATE == 'UT'`` per
    feature (`fiona/fio/filter.py` FutureWarning path).  Here the same
    surface translates once to a Catalyst predicate: property access
    becomes column reference, Python operators become SQL.  Unsupported
    constructs surface as AttributeFilterError, same contract as
    :func:`filter_where`.
    """
    import re
    sql = expr
    for pat, rep in _PYEXPR_SUBS:
        sql = re.sub(pat, rep, sql)
    return filter_where(df, sql)


def get_fid(df: DataFrame, fid, id_col: str = "id") -> DataFrame:
    """Random access by FID (`fiona/collection.py:506-533`)."""
    return df.filter(F.col(id_col) == fid)


def contains_fid(df: DataFrame, fid, id_col: str = "id") -> bool:
    """``fid in collection`` (`fiona/ogrext.pyx:1164-1230`)."""
    return df.filter(F.col(id_col) == fid).limit(1).count() > 0


def calc(df: DataFrame, name: str, expr: str, overwrite: bool = False) -> DataFrame:
    """``fio calc``: add a computed property; refuse silent overwrite
    unless flagged (`fiona/fio/calc.py:19-63`)."""
    if name in df.columns and not overwrite:
        raise ValueError(f"column {name!r} exists; pass overwrite=True (fio calc contract)")
    return df.withColumn(name, F.expr(expr))


def ignore_fields(df: DataFrame, ignore=None, include=None) -> DataFrame:
    """Column pruning pushdown (`fiona/ogrext.pyx:895-922`): Catalyst
    prunes the parquet scan to the selected columns."""
    if include is not None:
        return df.select(*include)
    if ignore:
        keep = [c for c in df.columns if c not in set(ignore)]
        return df.select(*keep)
    return df
