"""Set-oriented spatial operators: cell join, PIP join, range join, kNN.

The reference's spatial machinery is a per-feature envelope filter pushed
into OGR (`fiona/ogrext.pyx:1818-1825`); its mask filter is documented as
envelope-accurate only (`fiona/collection.py:416-417`).  These operators
are the scale-out generalization required by BASELINE.json north_rule:
the bbox test becomes a cell-id probe, and the exact point-in-polygon
residual runs as a vectorized numpy kernel over Arrow batches (zero
per-row Python).

Scale design notes (10^12-row table, 1000 executors):
 * each spatial join has exactly two lanes, chosen by one row guard
   (``max_broadcast_zones``): at or under it the zone layer is collected
   once and shipped by torrent broadcast, and one Arrow pass per point
   probes and refines (the common case: zones << images); past it the
   zone side stays distributed and candidates come from a shuffled
   equi-join on the int64 ``cell``.
 * skew on the shuffled lane has one explicit policy, decided by one
   driver aggregate over the candidate cells: hot cells (dense polygon
   stacks / the fixture's hot cell) replicate their zone-cell rows S
   ways against a deterministic image-side salt (:func:`salt_sides`),
   hot zones split their candidates S ways on the zone-key cogroup, and
   the bucket count grows with the candidate count — see
   :func:`pip_join` ``salt=``.  AQE skew-join stays on as backstop.
 * dedup of multi-cell candidates uses the reference-point trick (the
   pair is kept only in the cell containing the intersection's
   lower-left corner) — no ``distinct`` shuffle.
 * kNN is a multi-resolution cell-disk cascade: a disk probe at the
   cost-chosen start resolution answers most images; the provably
   unfinished remainder (cell-ring bound: kth-distance <= r *
   cell_height) retries coarser and finally falls back to an exact
   scan of the full zone set.  One kernel (:func:`_knn_cascade`) runs it
   per Arrow batch (fused lane) or per coarse-cell cogroup (past guard).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pac
from pyspark.sql import DataFrame, Window, functions as F, types as T

from .. import cells, geom
from ..schema import read_rings, with_rings

DEFAULT_RES = 7


# ---------------------------------------------------------------------------
# cell assignment
# ---------------------------------------------------------------------------

def with_point_cell(df: DataFrame, res: int, lng: str = "lng", lat: str = "lat",
                    out: str = "cell") -> DataFrame:
    """Add the containing cell id of a point column pair.

    Pure Catalyst arithmetic (same closed form as fiona_spark.cells) so
    the expression is codegen'd JVM-side — no Python worker at all —
    and partition pruning on a stored cell column can use it.
    """
    return df.withColumn(out, F.expr(cells.cell_id_sql(lng, lat, res)))


def with_covering_cells(df: DataFrame, res: int, out: str = "cell",
                        bbox_cols=("xmin", "ymin", "xmax", "ymax")) -> DataFrame:
    """Explode each bbox row into its covering cells at ``res``.

    Pure Catalyst: two nested explode(sequence(...)) generators over the
    grid ranges, with the antimeridian handled by an UNCLAMPED x range +
    pmod (the pmod of the raw index range enumerates exactly the
    east+west split boxes; a least() span clamp keeps full-circle boxes
    distinct).  No Python worker, no Arrow transfer; codegen end to end.
    Differentially tested against a plain-numpy enumeration on boundary,
    stradder, polar and full-circle boxes (test_spatial_ops).
    """
    x0, y0, x1, y1 = bbox_cols
    n = 1 << res
    base = res * cells.RES_SHIFT
    xi0u = f"CAST(floor(({x0} + 180.0D) / 360.0D * {n}) AS BIGINT)"
    xi1u = f"CAST(floor(({x1} + 180.0D) / 360.0D * {n}) AS BIGINT)"
    xi0 = (f"(CASE WHEN {x0} < -180.0D THEN {xi0u} "
           f"ELSE least(greatest({xi0u}, 0L), {n - 1}L) END)")
    xi1 = (f"(CASE WHEN {x1} > 180.0D THEN {xi1u} "
           f"ELSE least(greatest({xi1u}, 0L), {n - 1}L) END)")
    xhi = f"least({xi1}, {xi0} + {n - 1}L)"
    yi0 = cells.grid_y_sql(y0, res)
    yi1 = cells.grid_y_sql(y1, res)
    return (df.withColumn("_cov_yi", F.explode(F.expr(
                f"sequence({yi0}, {yi1})")))
            .withColumn("_cov_xi", F.explode(F.expr(
                f"sequence({xi0}, {xhi})")))
            .withColumn(out, F.expr(
                f"{base}L + _cov_yi * {n}L + pmod(_cov_xi, {n}L)"))
            .drop("_cov_yi", "_cov_xi"))


# ---------------------------------------------------------------------------
# skew handling
# ---------------------------------------------------------------------------

def hot_cells(df: DataFrame, cell: str = "cell", threshold: int = 100_000) -> DataFrame:
    """First-pass skew detector: cells whose row count exceeds threshold.

    (SURVEY.md section 2.4 per-cell stats; feeds the salting decision.)
    """
    return df.groupBy(cell).count().filter(F.col("count") > threshold)


def salt_sides(probe: DataFrame, build: DataFrame, hot: DataFrame,
               n_salt: int, cell: str = "cell", probe_key: str = "image_id"):
    """Explicit salting of hot cells for a shuffled equi-join.

    Probe rows in hot cells get ``salt = pmod(hash(probe_key), n_salt)``;
    build rows in hot cells are replicated across all salts; everything
    else joins on salt=0.  Returns (probe', build') both carrying a
    ``_salt`` column to add to the join keys.
    """
    hot = hot.select(F.col(cell).alias("_hot_cell")).withColumn("_is_hot", F.lit(True))
    p = (probe.join(F.broadcast(hot), probe[cell] == hot["_hot_cell"], "left")
         .withColumn("_salt", F.when(F.col("_is_hot"),
                                     F.pmod(F.hash(probe_key), F.lit(n_salt)))
                     .otherwise(F.lit(0)))
         .drop("_hot_cell", "_is_hot"))
    salt_arr = F.when(F.col("_is_hot"), F.sequence(F.lit(0), F.lit(n_salt - 1))
                      ).otherwise(F.array(F.lit(0)))
    b = (build.join(F.broadcast(hot), build[cell] == hot["_hot_cell"], "left")
         .withColumn("_salt", F.explode(salt_arr))
         .drop("_hot_cell", "_is_hot"))
    return p, b


# ---------------------------------------------------------------------------
# PIP join (point-in-polygon)
# ---------------------------------------------------------------------------

def _check_zones(keys, bad):
    """The zone-ring rule of both ``pip_join`` lanes: raise ValueError
    naming the first Arrow zone key flagged in ``bad`` (a null ring, or
    a null or NaN vertex).  Null geometries never get here — ``pip_join``
    drops them in the plan."""
    if bad.any():
        key = keys[int(np.argmax(bad))].as_py()
        raise ValueError(f"pip_join: zone {key!r} has a null ring or a "
                         "null or NaN vertex")


def _pack_rings(tbl: pa.Table, key: str):
    """Both ``pip_join`` lanes' ring packer: flat edges from the Arrow
    ring columns (:func:`schema.read_rings`, zero per-ring Python) and
    their vertex bounds, checked by :func:`_check_zones` on column
    ``key``; feature i is row i."""
    r = read_rings(tbl.column("rings_xs"), tbl.column("rings_ys"))
    _check_zones(tbl.column(key), r.null_ring)
    edges = geom.pack_feature_edges_flat(r.x, r.y, r.ring_lens, r.ring_nx)
    fbounds = geom.feature_vertex_bounds(edges)  # NaN from a null/NaN vertex
    _check_zones(tbl.column(key), np.isnan(fbounds[0]) | np.isnan(fbounds[1]))
    return edges, fbounds


def _pip_refine(lo, hi, fidx_sorted, px, py, edges, fbounds):
    """Both ``pip_join`` lanes' expand+refine: pair point i with features
    ``fidx_sorted[lo[i]:hi[i]]``, test the pairs with
    :func:`geom.points_in_features`, return the hits as (row, feature)."""
    cnt = hi - lo
    row = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    starts = np.cumsum(cnt) - cnt
    pos = lo[row] + (np.arange(len(row), dtype=np.int64) - starts[row])
    zi = fidx_sorted[pos]
    hit = geom.points_in_features(px[row], py[row], zi, edges, fbounds)
    return row[hit], zi[hit]


def pip_res_for(zones: DataFrame, max_cover_rows: int = 4_000_000,
                bbox_cols=("xmin", "ymin", "xmax", "ymax")) -> int:
    """Pick the PIP-join resolution from zone-layer statistics.

    Finer cells mean fewer false candidates (the residual's input
    shrinks toward the true hit set) but more covering rows to
    broadcast.  Rule: the finest res whose cell width <= mean zone
    width / 4 (covering area within ~1.5x of the zone bbox area — past
    that the false-candidate reduction saturates) subject to an
    estimated covering-row budget.  Measured on sf0.5: res 7 -> 10.7M
    candidates / 38s, auto-chosen res 9 -> 5.4M / 13s, same output.
    """
    x0, y0, x1, y1 = bbox_cols
    row = zones.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col(x1) - F.col(x0)).alias("w"),
        F.avg(F.col(y1) - F.col(y0)).alias("h")).collect()[0]
    return _res_from_stats(row["n"], row["w"], row["h"], max_cover_rows)


def _res_from_stats(n: int, w: float, h: float,
                    max_cover_rows: int = 4_000_000) -> int:
    w = max(w or 0.0, 1e-9)
    h = max(h or 0.0, 1e-9)
    best = 3
    for res in range(3, cells.MAX_RES + 1):
        cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
        est_rows = n * (w / cw + 2.0) * (h / ch + 2.0)
        if est_rows > max_cover_rows:
            break
        best = res
        if cw <= w / 4.0:
            break
    return best


MAX_BROADCAST_ZONES = 2_000_000
PIP_BUCKET_ROWS = 1 << 20   # shuffled pip_join: candidates per bucket


def _zone_prep(zones: DataFrame, zone_cols, res: int | None,
               row_guard: int | None = None):
    """Driver-side zone preparation for the fused PIP lane: collect the
    (small) zone layer once, enumerate covering cells (antimeridian wrap
    included), and pack and check the rings with :func:`_pack_rings`.
    ``zones`` holds no null ring column (``pip_join`` drops those rows).

    ``row_guard``: collect at most guard+1 rows; returns None if the
    layer exceeds the guard (caller falls back to the shuffled plan) —
    one job instead of a count() followed by a collect.

    Returns (zone_arrays, res, cov_ridx, cov_cell, edges, fbounds).
    """
    sel = zones.select(*zone_cols, "rings_xs", "rings_ys",
                       "xmin", "ymin", "xmax", "ymax")
    # r8: collect via Arrow (one toArrow job) — ring columns arrive as
    # list arrays (flat value buffer + offsets), so edge packing below
    # runs with zero per-ring Python instead of materializing 10^5
    # object ndarrays through toPandas (~0.6 s of serial driver time
    # per pip_join call at 67k zones).
    if row_guard is not None:
        ztbl = sel.limit(row_guard + 1).toArrow()
        if ztbl.num_rows > row_guard:
            return None
    else:
        ztbl = sel.toArrow()
    nz = ztbl.num_rows

    def _np(name):
        return np.asarray(ztbl.column(name).combine_chunks().to_numpy(
            zero_copy_only=False), np.float64)

    xminv = _np("xmin")
    yminv = _np("ymin")
    xmaxv = _np("xmax")
    ymaxv = _np("ymax")
    if res is None:
        w = float(np.mean(xmaxv - xminv)) if nz else 1.0
        h = float(np.mean(ymaxv - yminv)) if nz else 1.0
        res = _res_from_stats(nz, w, h)
    wrap = (xmaxv > 180.0) | (xminv < -180.0)
    parts = []
    if (~wrap).any():
        nidx = np.flatnonzero(~wrap)
        ridx, cell = cells.cells_covering_flat(
            xminv[nidx], yminv[nidx], xmaxv[nidx], ymaxv[nidx], res)
        parts.append((nidx[ridx], cell))
    widx = np.flatnonzero(wrap)
    if len(widx):
        # r8: antimeridian stradders vectorized — each contributes the
        # coverings of its east and west sub-boxes in TWO batched calls
        # (was one tiny cells_covering_flat call per box: ~0.25 s of
        # serial driver time at 600 wrap zones), deduped per feature.
        east = xmaxv[widx] > 180.0
        x0e = np.where(east, xminv[widx], xminv[widx] + 360.0)
        x1w = np.where(east, xmaxv[widx] - 360.0, xmaxv[widx])
        r1, c1 = cells.cells_covering_flat(
            x0e, yminv[widx], np.full(len(widx), 180.0), ymaxv[widx], res)
        r2, c2 = cells.cells_covering_flat(
            np.full(len(widx), -180.0), yminv[widx], x1w, ymaxv[widx], res)
        wr = np.concatenate((widx[r1], widx[r2]))
        wc = np.concatenate((c1, c2))
        # dedup (feature, cell) pairs from the two-box overlap; lexsort
        # gives per-feature ascending cells, same as the per-feature
        # np.unique of the old loop
        order = np.lexsort((wc, wr))
        wr_s, wc_s = wr[order], wc[order]
        first = np.concatenate(([True], (wr_s[1:] != wr_s[:-1])
                                | (wc_s[1:] != wc_s[:-1])))
        parts.append((wr_s[first], wc_s[first]))
    cov_ridx = np.concatenate([p0 for p0, _ in parts]) if parts else np.empty(0, np.int64)
    cov_cell = np.concatenate([c for _, c in parts]) if parts else np.empty(0, np.int64)

    edges, fbounds = _pack_rings(ztbl, zone_cols[0])
    zone_arrays = [ztbl.column(c).combine_chunks() for c in zone_cols]
    return zone_arrays, res, cov_ridx, cov_cell, edges, fbounds


def _emit(point_arrays, rows, zone_arrays, zidx, extra, names) -> pa.Table:
    """Flat lane output (fused lanes, bucketed PIP lane): ``point_arrays``
    taken at ``rows``, ``zone_arrays`` at ``zidx``, then ``extra``."""
    rows, zidx = pa.array(rows), pa.array(zidx)
    return pa.Table.from_arrays(
        [a.take(rows) for a in point_arrays]
        + [a.take(zidx) for a in zone_arrays]
        + [pa.array(e) for e in extra], names=names)


def _fused_lane(points: DataFrame, point_cols, lng: str, lat: str, bc,
                kernel, fields) -> DataFrame:
    """The one ``mapInArrow`` pass of both fused lanes.  ``bc.value`` is
    ``(*state, zone_arrays)``; per batch ``kernel(state, px, py)`` (the
    coordinates as float64, a null read as NaN) returns ``(rows, zidx,
    *extra)`` for :func:`_emit`, typed by ``point_cols``' fields plus
    ``fields``."""
    npc = len(point_cols)
    schema = T.StructType([points.schema[c] for c in point_cols] + fields)
    names = schema.fieldNames()

    def run(batches):
        *state, zone_arrays = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            px, py = (np.asarray(rb.column(i).to_numpy(zero_copy_only=False),
                                 np.float64) for i in (npc, npc + 1))
            rows, zi, *extra = kernel(state, px, py)
            yield from _emit(rb.columns[:npc], rows, zone_arrays, zi, extra,
                             names).to_batches()

    return (points.select(*point_cols, F.col(lng).cast("double"),
                          F.col(lat).cast("double"))
            .mapInArrow(run, schema))


def _pip_matches(state, pxv, pyv):
    """FUSED candidate generation + residual: the ``_fused_lane`` kernel
    of ``pip_join``.  ``state`` (one torrent sc.broadcast, pickled once,
    never a driver-built JVM hash relation) is the resolution, the
    covering table sorted by cell, the packed zone edges and their vertex
    bounds.  Per batch: cell id (numpy closed form, identical to the SQL
    form), searchsorted range probe, then the shared :func:`_pip_refine`;
    returns flat (row, zone idx) hit pairs.

    Why fused: a JVM broadcast cell equi-join builds its exchange
    single-threaded on the driver, per action (a flat 4.3-6.7 s at 33.5k
    zones across local[2/8/32], capping scaling efficiency at 0.59).
    Here the probe runs on executors, each point crosses Arrow once, and
    points stay in their partitions, so a hot cell never concentrates a
    reducer.
    """
    res, cell_sorted, zidx_sorted, edges, fbounds = state
    pcell = cells.cell_id(pxv, pyv, res)
    return _pip_refine(np.searchsorted(cell_sorted, pcell, "left"),
                       np.searchsorted(cell_sorted, pcell, "right"),
                       zidx_sorted, pxv, pyv, edges, fbounds)


def _pip_bucket_fn(npc: int, nzc: int, names):
    """The shuffled ``pip_join`` lane's body, one call per (zone-key
    bucket, zone split): ``cand`` holds ``npc`` point columns, the zone
    key and float64 lng/lat; ``rings`` the ``nzc`` zone columns (key
    first) and the ring columns.  Ring-only groups are visited too, so a
    bad zone raises with no candidate.  A candidate's key maps by Arrow
    hash lookups to its key's run in a stable key sort of the rings, so
    :func:`_pip_refine` tests it against EVERY zone row of its key."""

    def fn(cand: pa.Table, rings: pa.Table) -> pa.Table:
        edges, fbounds = _pack_rings(rings, "_rkey")
        keys = pac.unique(rings.column(0))
        rid = pac.index_in(rings.column(0), value_set=keys).to_numpy()
        order = np.argsort(rid, kind="stable")
        rid = rid[order]
        cid = (pac.index_in(cand.column(npc), value_set=keys)
               .fill_null(-1).to_numpy())
        px, py = (np.asarray(cand.column(i).to_numpy(), np.float64)
                  for i in (npc + 1, npc + 2))
        row, zi = _pip_refine(np.searchsorted(rid, cid, "left"),
                              np.searchsorted(rid, cid, "right"),
                              order, px, py, edges, fbounds)
        return _emit(cand.columns[:npc], row, rings.columns[:nzc], zi, (),
                     names)

    return fn


def pip_join(points: DataFrame, zones: DataFrame, res: int | None = None,
             lng: str = "lng", lat: str = "lat",
             point_cols=("image_id",), zone_cols=("zone_id",),
             salt: int | str = "auto", hot_threshold: int = 100_000,
             max_broadcast_zones: int = MAX_BROADCAST_ZONES) -> DataFrame:
    """Exact point-in-polygon join (the exact form of Fiona's mask filter).

    points x zones -> rows of point_cols + zone_cols where the point is
    strictly inside the zone polygon.  Each point has exactly ONE cell,
    so candidate pairs are already unique — no dedup shuffle.

    Geometry model: zones carry (rings_xs, rings_ys) as
    array<array<double>> (holes, MultiPolygon — `fiona/model.py:18-115`
    geometry normalization); a zone frame with only the first ring
    (xs, ys) enters through :func:`schema.with_rings`.  Both lanes refine
    through the one :func:`geom.points_in_features` call.  An empty ring
    contains no point.  A null ring column is a null geometry and
    contains no point (OGR's spatial filter never returns a feature
    without one): those zones are dropped in the plan.  A null ring
    inside ``rings_xs``, or a null or NaN vertex, raises ``ValueError``
    naming the zone key, on both lanes, whether or not any point
    reaches that zone.

    Two lanes, chosen by one row guard on the zone layer:
      * at most ``max_broadcast_zones`` rows: the FUSED lane.  The zone
        layer is collected once (the guard rides that collect), its
        covering table, packed edges and zone columns ship by one
        torrent broadcast, and one ``mapInArrow`` pass probes, refines
        and emits flat rows (zone columns by an Arrow take).
      * more rows: the BUCKETED shuffled lane.  A light cell equi-join
        (keys + coords only) yields one candidate per (point, zone key);
        candidates and zone rings cogroup on a zone-key bucket, and one
        ``applyInArrow`` call per bucket runs the fused lane's ring
        packer, refine and Arrow output.  (A 10^8-row zone table must
        never be collected — that was r1 "what's wrong" #4.)
    ``max_broadcast_zones=0`` forces the shuffled lane.

    Skew: salting applies past the guard only — the fused lane never
    moves probe rows, so a hot cell cannot concentrate a reducer there,
    and it ignores ``salt``.  The shuffled lane runs one driver
    aggregate over the candidate cells: its sum sizes the buckets (about
    ``PIP_BUCKET_ROWS`` candidates each), and under ``salt='auto'`` a
    cell past ``hot_threshold`` points turns on 8 salts.  ``salt`` is
    the number of salts for both skew guards (hot cells salted on the
    equi-join, hot zones split on the cogroup); 0 disables both.
    """
    spark = points.sparkSession
    zones = with_rings(zones).dropna(subset=["rings_xs", "rings_ys"])
    prep = _zone_prep(zones, zone_cols, res,
                      row_guard=max_broadcast_zones)
    if prep is not None:
        # FUSED lane (why fused: see _pip_matches): no join, no shuffle
        zone_arrays, res, cov_ridx, cov_cell, edges, fbounds = prep
        order = np.argsort(cov_cell, kind="stable")
        bc = spark.sparkContext.broadcast(
            (res, cov_cell[order], cov_ridx[order], edges, fbounds,
             zone_arrays))
        return _fused_lane(points, point_cols, lng, lat, bc, _pip_matches,
                           [zones.schema[c] for c in zone_cols])

    if res is None:
        res = pip_res_for(zones)
    p = with_point_cell(points.select(*point_cols, lng, lat), res, lng, lat)
    zkey = zone_cols[0]
    # zone layers usually arrive in 1-2 files; spread the covering
    # explode across the cluster before the cell equi-join, hashed on
    # the key so the (key, cell) dedup needs no second exchange
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    zones = zones.repartition(n_shuffle, zkey)
    # one candidate per (point, zone key): the bucket body tests it
    # against every feature of its key (see _pip_bucket_fn)
    z = (with_covering_cells(zones.select(zkey, "xmin", "ymin", "xmax",
                                          "ymax"), res)
         .select(zkey, "cell").dropDuplicates([zkey, "cell"]))
    counts = p.groupBy("cell").count()
    # ONE driver aggregate: the exact candidate count sizes the buckets,
    # the densest candidate cell makes the salt='auto' decision
    n_cand, top = (z.join(counts, "cell")
                   .agg(F.sum("count"), F.max("count")).first())
    n_salt = ((8 if (top or 0) > hot_threshold else 0) if salt == "auto"
              else int(salt))
    n_bucket = max(n_shuffle, -(-(n_cand or 0) // PIP_BUCKET_ROWS))

    # rings carry a RENAMED key: z / hotz / rings all descend from
    # `zones`, and same-lineage joins on a shared column name trip
    # Spark's ambiguous-self-join analysis
    bucket = F.pmod(F.xxhash64(zkey), F.lit(n_bucket)).alias("_b")
    rings = zones.select(F.col(zkey).alias("_rkey"), *zone_cols[1:],
                         "rings_xs", "rings_ys", bucket)
    join_keys, gcols, zsalt = ["cell"], ["_b"], []
    if n_salt > 0:
        # the cogroup has no AQE skew handling: a zone with more than
        # hot_threshold candidates (exactly, the point counts of its
        # covering cells) is SPLIT — its candidates hash into n_salt
        # subgroups and its rings replicate once per subgroup
        hotz = (z.join(counts, "cell")
                .groupBy(zkey).agg(F.sum("count").alias("_est"))
                .filter(F.col("_est") > hot_threshold)
                .select(F.col(zkey).alias("_hotz")))
        z = z.join(F.broadcast(hotz), z[zkey] == hotz["_hotz"], "left")
        zsalt = [F.when(F.col("_hotz").isNotNull(),
                        F.pmod(F.hash(point_cols[0]), F.lit(n_salt)))
                 .otherwise(F.lit(0)).alias("_zsalt")]
        rings = (rings.join(F.broadcast(hotz),
                            rings["_rkey"] == hotz["_hotz"], "left")
                 .withColumn("_zsalt", F.explode(F.when(
                     F.col("_hotz").isNotNull(),
                     F.sequence(F.lit(0), F.lit(n_salt - 1)))
                     .otherwise(F.array(F.lit(0)))))
                 .drop("_hotz"))
        p, z = salt_sides(p, z, counts.filter(F.col("count") > hot_threshold),
                          n_salt, probe_key=point_cols[0])
        join_keys, gcols = ["cell", "_salt"], ["_b", "_zsalt"]
    cand = (p.join(z, join_keys, "inner")
            .select(*point_cols, zkey, F.col(lng).cast("double"),
                    F.col(lat).cast("double"), *zsalt, bucket))
    schema = T.StructType([points.schema[c] for c in point_cols]
                          + [zones.schema[c] for c in zone_cols])
    fn = _pip_bucket_fn(len(point_cols), len(zone_cols), schema.fieldNames())
    return (cand.groupBy(*gcols).cogroup(rings.groupBy(*gcols))
            .applyInArrow(fn, schema))


def spatial_semi_join(points: DataFrame, zones: DataFrame, **kw) -> DataFrame:
    """Points that fall inside at least one zone (left_semi on PIP keys)."""
    key = kw.get("point_cols", ("image_id",))[0]
    hits = pip_join(points, zones, **kw).select(key).distinct()
    return points.join(hits, key, "left_semi")


def spatial_anti_join(points: DataFrame, zones: DataFrame, **kw) -> DataFrame:
    """Points inside no zone (left_anti on PIP keys)."""
    key = kw.get("point_cols", ("image_id",))[0]
    hits = pip_join(points, zones, **kw).select(key).distinct()
    return points.join(hits, key, "left_anti")


# ---------------------------------------------------------------------------
# Range join (bbox x bbox) with reference-point dedup
# ---------------------------------------------------------------------------

def range_join(a: DataFrame, b: DataFrame, res: int = DEFAULT_RES,
               a_cols=("image_id",), b_cols=("zone_id",),
               broadcast_b: bool = True) -> DataFrame:
    """Envelope-intersects join: both sides exploded to covering cells,
    equi-joined on cell, residual bbox predicate, and reference-point
    dedup (a pair survives only in the cell containing the lower-left
    corner of the bbox intersection) — the classic trick that turns the
    theta range join into a duplicate-free equi-join with no distinct.
    """
    ax = with_covering_cells(
        a.select(*a_cols, F.col("xmin").alias("a_xmin"), F.col("ymin").alias("a_ymin"),
                 F.col("xmax").alias("a_xmax"), F.col("ymax").alias("a_ymax")),
        res, bbox_cols=("a_xmin", "a_ymin", "a_xmax", "a_ymax"))
    bx = with_covering_cells(
        b.select(*b_cols, F.col("xmin").alias("b_xmin"), F.col("ymin").alias("b_ymin"),
                 F.col("xmax").alias("b_xmax"), F.col("ymax").alias("b_ymax")),
        res, bbox_cols=("b_xmin", "b_ymin", "b_xmax", "b_ymax"))
    bj = F.broadcast(bx) if broadcast_b else bx
    cand = ax.join(bj, "cell")
    intersects = ((F.col("a_xmax") >= F.col("b_xmin")) & (F.col("a_xmin") <= F.col("b_xmax"))
                  & (F.col("a_ymax") >= F.col("b_ymin")) & (F.col("a_ymin") <= F.col("b_ymax")))
    ref_cell = F.expr(cells.cell_id_sql("greatest(a_xmin, b_xmin)",
                                        "greatest(a_ymin, b_ymin)", res))
    return (cand.filter(intersects)
            .filter(F.col("cell") == ref_cell)
            .select(*a_cols, *b_cols))


# ---------------------------------------------------------------------------
# kNN join (two-phase cell-disk + exact fallback)
# ---------------------------------------------------------------------------

def knn_res_for(n_zones: int, k: int, bbox, levels: int = 3) -> int:
    """Start resolution of the kNN cascade with the least expected
    candidate count (zone distances ranked) per point.

    Zones are taken as spread evenly over their centroid bbox
    ``(xmin, ymin, xmax, ymax)`` at rho per deg^2 (each side floored at
    the finest cell height, so a zero-area extent stays finite).  At a
    level of cell height h an unfinished point ranks the zones of its
    cell's disk(1), min(nz, 9 * rho * 2h * h), and finishes when k of
    them lie closer than h: P(Poisson(rho * pi * h^2) >= k).  A point no
    level finishes pays the exact scan, nz.  Start r walks the levels
    the cascade runs, ``range(r, 0, -2)[:levels]``; the output does not
    depend on the pick, only the work does.
    """
    nz, kk = n_zones, min(k, n_zones)
    x0, y0, x1, y1 = bbox if nz else (0.0,) * 4
    h_min = 180.0 / (1 << MAX_KNN_RES)
    rho = max(nz, 1) / (max(x1 - x0, h_min) * max(y1 - y0, h_min))
    i = np.arange(kk)
    log_fact = np.concatenate(([0.0], np.cumsum(np.log(i[1:]))))

    def cost(r):
        total, left = 0.0, 1.0
        for h in (180.0 / (1 << q) for q in range(r, 0, -2)[:levels]):
            lam = rho * np.pi * h * h
            total += left * min(nz, 18.0 * rho * h * h)
            # P(Poisson(lam) < kk), each term in log space: no overflow
            left *= min(1.0, np.exp(i * np.log(lam) - lam - log_fact).sum())
        return total + left * nz
    return min(range(1, MAX_KNN_RES + 1), key=cost)


MAX_KNN_RES = 14
KNN_GROUP_ROWS = 1 << 20    # past-guard knn_join: points per cogroup group


def _disk_cells_sql(cell_col: str, res: int) -> "F.Column":
    """JVM-side disk(1) of a cell id: the 9 neighbor cells at ``res``
    with longitude wrap and latitude clip — pure codegen'd arithmetic
    (the zone explode of the cogrouped kNN lane)."""
    n = 1 << res
    base = res * cells.RES_SHIFT
    rem = f"({cell_col} - {base}L)"
    yi = f"CAST(floor({rem} / {n}) AS BIGINT)"
    xi = f"({rem} % {n})"
    offsets = ",".join(f"named_struct('dx', {dx}L, 'dy', {dy}L)"
                       for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    # array_distinct: at tiny n the lon wrap aliases dx=-1 and dx=+1
    # into the same cell — duplicates would corrupt candidate ranks
    return F.expr(
        f"array_distinct(transform("
        f"filter(array({offsets}), o -> {yi} + o.dy >= 0 AND {yi} + o.dy < {n}), "
        f"o -> {base}L + ({yi} + o.dy) * {n}L + pmod({xi} + o.dx, {n}L)))")


def _disk1_table(zc: np.ndarray, r: int):
    """Vectorized disk(1) replication: every (neighbor_cell, zone_idx)
    pair for all zones at res r, deduped (lon wrap aliases dx=+-1 at
    tiny n) and sorted by cell, then zone idx, for searchsorted probing."""
    xi, yi, _res = cells.unpack(zc)
    n = np.int64(1) << r
    d = np.arange(-1, 2, dtype=np.int64)
    shape = (3, 3, len(zc))                  # (dy, dx, zone)
    ny = np.broadcast_to(yi + d[:, None, None], shape).ravel()
    nx = np.broadcast_to((xi + d[:, None]) % n, shape).ravel()
    zidx = np.broadcast_to(np.arange(len(zc), dtype=np.int64), shape).ravel()
    ok = (ny >= 0) & (ny < n)
    # (cell offset < 4^r, zone idx) packed exactly into one int64, so
    # one sort dedups and orders the pairs
    m = np.int64(len(zc) + 1)
    u = np.unique((ny[ok] * n + nx[ok]) * m + zidx[ok])
    return np.int64(r) * cells.RES_SHIFT + u // m, u % m


def _knn_zones(zs: pa.Table, res: int, levels: int):
    """Both kNN lanes' zone prep: the (key, lng, lat) table sorted by key
    (zone idx order is key order), its float64 centroids, and the level
    tables of the cascade for r = res, res-2, ... (at most ``levels``,
    r >= 1): cell height and :func:`_disk1_table`."""
    zs = zs.take(pac.sort_indices(zs.column(0)))
    zx, zy = (np.asarray(zs.column(i).to_numpy(), np.float64) for i in (1, 2))
    return zs, zx, zy, [
        (r, 180.0 / (1 << r), *_disk1_table(cells.cell_id(zx, zy, r), r))
        for r in range(res, 0, -2)[:levels]]


def _knn_cascade(pxv, pyv, zxv, zyv, lts, kk: int):
    """The cascade of both ``knn_join`` lanes (see its docstring) over
    the level tables ``lts`` of :func:`_knn_zones`, zones in key order.
    Returns ``(out, remaining)``: row i of ``out`` holds point i's zone
    indices by rank (-1 if no level finished it)."""
    n = len(pxv)
    out = np.full((n, kk), -1, dtype=np.int64)
    remaining = np.arange(n, dtype=np.int64)
    # bounded candidate chunks (r8): an unchunked level built ~8 arrays
    # of |candidates| (~20 MB each at 10k pts x 234 cand), mmap'd afresh
    # per batch — a fleet-wide stall where first touch is costly.  Chunks
    # split on point boundaries, so the output is bit-identical.
    KNN_CAND_CHUNK = 1 << 19
    for (r, cell_h, cs, zs) in lts:
        if not len(remaining):
            break
        rx_a, ry_a = pxv[remaining], pyv[remaining]
        pc = cells.cell_id(rx_a, ry_a, r)
        lo_a = np.searchsorted(cs, pc, "left")
        hi_a = np.searchsorted(cs, pc, "right")
        cnt_a = hi_a - lo_a
        ccum = np.cumsum(cnt_a)
        if int(ccum[-1]) == 0:
            continue
        mm = len(remaining)
        fin_all = np.zeros(mm, dtype=bool)
        bounds = [0]
        while bounds[-1] < mm:
            nxt = int(np.searchsorted(
                ccum, (ccum[bounds[-1] - 1] if bounds[-1] else 0)
                + KNN_CAND_CHUNK, "right"))
            bounds.append(max(nxt, bounds[-1] + 1))
        for lo_r, hi_r in zip(bounds[:-1], bounds[1:]):
            m = hi_r - lo_r
            cnt = cnt_a[lo_r:hi_r]
            total = int(cnt.sum())
            if total == 0:
                continue
            rx, ry = rx_a[lo_r:hi_r], ry_a[lo_r:hi_r]
            row = np.repeat(np.arange(m, dtype=np.int64), cnt)
            starts = np.cumsum(cnt) - cnt
            pos = lo_a[lo_r:hi_r][row] + (
                np.arange(total, dtype=np.int64) - starts[row])
            zi = zs[pos]
            dx = rx[row] - zxv[zi]
            dy = ry[row] - zyv[zi]
            # squared-distance screen, sqrt deferred to the survivors
            # (r6; -17% kernel wall, bit-identical): cell_h = 45/2^(r-2)
            # and cell_h^2 are exactly representable, and sqrt is
            # correctly rounded + monotone, so ds2 < cell_h*cell_h is
            # THE SAME predicate as sqrt(ds2) < cell_h — not an
            # approximation of it.
            ds2 = dx * dx + dy * dy
            close = ds2 < cell_h * cell_h
            ccnt = np.bincount(row[close], minlength=m)
            fin = ccnt >= kk
            sel = close & fin[row]
            if sel.any():
                rs, zsel = row[sel], zi[sel]
                ds = np.sqrt(ds2[sel])
                # two-key lexsort (r6): _disk1_table stores zone idx
                # ASCENDING within each cell run, candidate generation
                # is row-major, and lexsort is stable — so ties in
                # (row, dist) keep ascending zone order without paying
                # a third sort key (the (dist, zone_key) window order
                # of the straggler fallback and the DuckDB oracle).
                order = np.lexsort((ds, rs))
                rs_o, z_o = rs[order], zsel[order]
                first = np.concatenate(([True], rs_o[1:] != rs_o[:-1]))
                seg_start = np.maximum.accumulate(
                    np.where(first, np.arange(len(rs_o)), 0))
                rank = np.arange(len(rs_o)) - seg_start
                topk = rank < kk
                out[remaining[lo_r + rs_o[topk]], rank[topk]] = z_o[topk]
            fin_all[lo_r:hi_r] = fin
        remaining = remaining[~fin_all]
    return out, remaining


def _knn_join_fused(points: DataFrame, zones: DataFrame, k: int,
                    res: int | None, levels: int, lng: str, lat: str,
                    point_key: str, zone_key: str,
                    zone_lng: str, zone_lat: str,
                    row_guard: int | None = None) -> DataFrame | None:
    """Fused kNN: cascade + exact fallback in one flat ``mapInArrow``
    pass (:func:`_fused_lane`).  Centroids, level tables and key-sorted
    zone keys ride one torrent sc.broadcast; per batch
    :func:`_knn_cascade` runs, and the tail brute-forces against all
    zones in bounded row chunks with a STABLE dist sort, so ties resolve
    by zone key like the (dist, zone_key) window and the DuckDB oracle.

    ``row_guard``: collect at most guard+1 zone rows in ONE job; returns
    None past it (the caller runs the cogrouped lane), as ``_zone_prep``
    does for the fused PIP: a 10^8-row zone table must never reach the
    driver.
    """
    zsel = zones.select(zone_key, zone_lng, zone_lat)
    ztbl = (zsel if row_guard is None else zsel.limit(row_guard + 1)).toArrow()
    if row_guard is not None and ztbl.num_rows > row_guard:
        return None
    nz = ztbl.num_rows
    if res is None:
        (x0, x1), (y0, y1) = (pac.min_max(ztbl.column(c)).as_py().values()
                              for c in (1, 2))
        res = knn_res_for(nz, k, (x0, y0, x1, y1), levels)
    ztbl, zx, zy, lts = _knn_zones(ztbl, res, levels)
    bc = points.sparkSession.sparkContext.broadcast(
        (zx, zy, lts, [ztbl.column(0).combine_chunks()]))
    kk = min(k, nz)

    def knn_ranks(state, pxv, pyv):
        zxv, zyv, lts = state
        out, remaining = _knn_cascade(pxv, pyv, zxv, zyv, lts, kk)
        # exact fallback for the sparse tail, bounded chunks (row count
        # adapted to the zone count so the (rows x nz) distance matrix
        # stays ~4M elements)
        CH = max(1, min(128, 4_000_000 // max(nz, 1)))
        for s in range(0, len(remaining), CH):
            idx = remaining[s:s + CH]
            dx = pxv[idx][:, None] - zxv[None, :]
            dy = pyv[idx][:, None] - zyv[None, :]
            d = np.sqrt(dx * dx + dy * dy)
            # stable sort on dist: ties fall back to ascending zone idx,
            # i.e. ascending zone_key (zones pre-sorted by key)
            out[idx, :] = np.argsort(d, axis=1, kind="stable")[:, :kk]
        row, rank0 = np.nonzero(out >= 0)
        return row, out[row, rank0], (rank0 + 1).astype(np.int32)

    return _fused_lane(points, [point_key], lng, lat, bc, knn_ranks,
                       [zones.schema[zone_key],
                        T.StructField("knn_rank", T.IntegerType(), False)])


def _knn_group_fn(kk: int, res: int, levels: int, names):
    """The cogrouped ``knn_join`` body, one call per (r_min cell, split):
    ``pts`` holds the key and lng/lat of the cell's points, ``zs`` key and
    centroid of each zone whose r_min disk(1) holds the cell.  Cells are
    an aligned quadtree, so a zone in the disk(1) of a point's level-r
    cell (r >= r_min) is in that of its r_min cell: the group sees every
    candidate and finishes exactly the points the fused lane does.
    Emits their rows, and a rank-0 row with the coordinates (zone null)
    per unfinished point."""

    def fn(pts: pa.Table, zs: pa.Table) -> pa.Table:
        # a zone-only group (no point in the cell) needs no level table
        zs, zx, zy, lts = _knn_zones(zs, res, levels if pts.num_rows else 0)
        px, py = (np.asarray(pts.column(i).to_numpy(), np.float64)
                  for i in (1, 2))
        out, rest = _knn_cascade(px, py, zx, zy, lts, kk)
        row, rank0 = np.nonzero(out >= 0)
        rows = np.concatenate((row, rest))
        zi = np.ma.masked_array(np.concatenate((out[row, rank0], rest)),
                                np.arange(len(rows)) >= len(row))
        rank = np.concatenate((rank0 + 1, rest * 0)).astype(np.int32)
        return _emit(pts.columns[:1], rows, zs.columns[:1], zi,
                     [rank, px[rows], py[rows]], names)

    return fn


def knn_join(points: DataFrame, zones: DataFrame, k: int = 3,
             res: int | None = None, levels: int = 3,
             lng: str = "lng", lat: str = "lat",
             point_key: str = "image_id", zone_key: str = "zone_id",
             zone_lng: str = "clng", zone_lat: str = "clat",
             eager_cleanup: bool = True,
             max_broadcast_zones: int | None = MAX_BROADCAST_ZONES) -> DataFrame:
    """Exact k nearest zones (by centroid euclidean degrees) per point.

    Output: (point_key, zone_key, knn_rank), rank 1..k by
    (distance, zone_key) for determinism.  A zone with a null or NaN
    centroid has no distance: it is dropped in the plan.  Both lanes
    run the same multi-resolution cascade, :func:`_knn_cascade`:
      * per level, every zone is replicated into the 9 cells of its
        disk(1) neighborhood; each point probes its own cell.
      * candidates farther than cell_height are dropped before ranking:
        a point is provably finished iff it has >= k candidates with
        dist < cell_height (every zone that close is inside disk(1), so
        the filtered set still contains its true top-k); strict <
        because a zone outside disk(1) can sit at exactly cell_height
        and win the (dist, zone_key) tiebreak.
      * unfinished points (sparse regions — e.g. beyond the data's
        latitude band) retry at a 4x coarser level (a single level sent
        the sparse tail, 857M pairs at sf0.5, to the exact fallback);
        ``res=None`` starts at the level of least expected work,
        :func:`knn_res_for`.  Any start gives the same rows.
      * whatever survives all levels (~0 rows) is ranked exactly
        against all zones.

    ``max_broadcast_zones`` is the one guard between the lanes:
      * at most that many zone rows: the FUSED lane (see
        :func:`_knn_join_fused`) collects the zones in one guarded job
        and runs the whole cascade inside one Arrow pass per point.
      * more rows: the COGROUPED lane, no broadcast and no collect of
        the zone side: points group by their cell at the coarsest level
        r_min, and one ``applyInArrow`` call per group runs the cascade
        (:func:`_knn_group_fn`).  A cell over ``KNN_GROUP_ROWS`` points
        (one driver aggregate) splits by a hash of the point key, its
        zones replicated per split.  The output is materialized once
        (``localCheckpoint``); the unfinished points are ranked against
        all zones by a nested-loop join and a (dist, zone_key) window.
    ``eager_cleanup`` has no effect (existing callers still pass it).
    """
    zones = zones.dropna(subset=[zone_lng, zone_lat])
    out = _knn_join_fused(points, zones, k, res, levels, lng, lat,
                          point_key, zone_key, zone_lng, zone_lat,
                          row_guard=max_broadcast_zones)
    if out is not None:
        return out

    # one pass counts both sides and takes the centroid bbox; no cell can
    # be hot unless the whole point set is, so only then does the
    # per-cell aggregate run
    nil = F.lit(None).cast("double")
    n_all, nz, *bbox = (
        points.select(F.lit(0).alias("_z"), nil.alias("_x"), nil.alias("_y"))
        .union(zones.select(F.lit(1), F.col(zone_lng).cast("double"),
                            F.col(zone_lat).cast("double")))
        .agg(F.count("_z"), F.sum("_z"), *(f(c) for f in (F.min, F.max)
                                           for c in ("_x", "_y"))).first())
    nz = nz or 0
    if res is None:
        res = knn_res_for(nz, k, bbox, levels)
    r_min = min(range(res, 0, -2)[:levels], default=res)
    zc = zones.select(zone_key, F.col(zone_lng).alias("_zlng"),
                      F.col(zone_lat).alias("_zlat"))
    p = with_point_cell(points.select(point_key, lng, lat), r_min, lng, lat,
                        out="_g")
    hot = ([] if n_all - nz <= KNN_GROUP_ROWS
           else hot_cells(p, "_g", KNN_GROUP_ROWS).collect())
    n_split = max([1] + [-(-c["count"] // KNN_GROUP_ROWS) for c in hot])
    n_s = F.when(F.col("_g").isin([c["_g"] for c in hot]),
                 n_split).otherwise(1)
    p = p.withColumn("_s", F.pmod(F.xxhash64(point_key), n_s).cast("int"))
    z = (with_point_cell(zc, r_min, "_zlng", "_zlat", out="_zc")
         .withColumn("_g", F.explode(_disk_cells_sql("_zc", r_min)))
         .withColumn("_s", F.explode(F.sequence(F.lit(0), n_s - 1)))
         .drop("_zc"))
    schema = (T.StructType([points.schema[point_key]])
              .add(zone_key, zones.schema[zone_key].dataType)
              .add("knn_rank", T.IntegerType()).add(lng, T.DoubleType())
              .add(lat, T.DoubleType()))
    staged = (p.groupBy("_g", "_s").cogroup(z.groupBy("_g", "_s"))
              .applyInArrow(_knn_group_fn(min(k, nz), res, levels,
                                          schema.fieldNames()), schema)
              .localCheckpoint())

    # plain multiplication (not pow()) so the double expression tree is
    # bit-identical to the DuckDB oracle's
    dx = F.col(lng) - F.col("_zlng")
    dy = F.col(lat) - F.col("_zlat")
    w = Window.partitionBy(point_key).orderBy("dist", zone_key)
    tail = (staged.filter(F.col("knn_rank") == 0).select(point_key, lng, lat)
            .hint("shuffle_replicate_nl").crossJoin(zc)
            .withColumn("dist", F.sqrt(dx * dx + dy * dy))
            .withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k))
    cols = [point_key, zone_key, "knn_rank"]
    return (staged.filter(F.col("knn_rank") > 0).select(*cols)
            .unionByName(tail.select(*cols)))


# ---------------------------------------------------------------------------
# raster -> vector tile assignment
# ---------------------------------------------------------------------------

def block_tiles(images: DataFrame, res: int, block: int = 8) -> DataFrame:
    """Split each image into block x block pixel tiles, geolocate every
    tile inside the footprint, decode the payload and emit per-tile
    stats: (image_id, bx, by, cell, mean_lum).

    This is the raster->vector op of the north_rule: pixel blocks become
    vector features keyed by cell id.  Decode + block means are one
    ``mapInArrow`` pass over ``images.decoded_chunks`` (Arrow in, Arrow
    out; image ids reach the output through one Arrow ``take``).  Rows
    with a null payload, fmt, w or h are dropped in the plan, before
    the Python boundary.
    """
    from .images import decoded_chunks, emit_batch, plane_sum

    out_schema = ("image_id string, bx int, by int, cell long, mean_lum double")

    def run(batches):
        for rb in batches:
            bbox = {c: np.asarray(rb.column(c).to_numpy(zero_copy_only=False),
                                  np.float64)
                    for c in ("xmin", "ymin", "xmax", "ymax")}
            parts = []
            for rows, _, w, h, imgs in decoded_chunks(rb):
                nbx, nby = w // block, h // block
                if nbx == 0 or nby == 0:
                    continue
                m = len(rows)
                # grayscale: the exact uint16 plane sum + one float64
                # divide is BIT-identical to the float64 channel mean
                # and skips the 8x-size float64 image copy
                g = plane_sum(imgs[:, : nby * block, : nbx * block]) / 3.0
                means = g.reshape(m, nby, block, nbx, block).mean(axis=(2, 4))
                # tile centers in geography (row 0 = north edge)
                xmn, xmx, ymn, ymx = (bbox[c][rows][:, None] for c in
                                      ("xmin", "xmax", "ymin", "ymax"))
                cx = xmn + (np.arange(nbx) + 0.5) / nbx * (xmx - xmn)
                cy = ymx - (np.arange(nby) + 0.5) / nby * (ymx - ymn)
                shape = (m, nby, nbx)
                gx = np.broadcast_to(cx[:, None, :], shape).ravel()
                gy = np.broadcast_to(cy[:, :, None], shape).ravel()
                bxg = np.broadcast_to(
                    np.arange(nbx, dtype=np.int32)[None, None, :], shape)
                byg = np.broadcast_to(
                    np.arange(nby, dtype=np.int32)[None, :, None], shape)
                parts.append((np.repeat(rows, nbx * nby), bxg.ravel(),
                              byg.ravel(), cells.cell_id(gx, gy, res),
                              means.ravel()))
            if parts:
                yield emit_batch(rb, parts, ["bx", "by", "cell", "mean_lum"],
                                 [pa.int32(), pa.int32(), pa.int64(),
                                  pa.float64()])

    cols = ["image_id", "bytes", "fmt", "w", "h", "xmin", "ymin", "xmax", "ymax"]
    return (images.select(*cols).dropna(subset=["bytes", "fmt", "w", "h"])
            .mapInArrow(run, out_schema))
