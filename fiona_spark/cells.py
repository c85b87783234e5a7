"""Hierarchical spherical cell index (S2/H3-style), pure numpy.

The reference (Fiona) has no cell index; its spatial filtering is a
rectangle envelope test pushed into OGR (`fiona/ogrext.pyx:1818-1825`,
``OGR_L_SetSpatialFilterRect``).  At 10^12-row scale the set-oriented
equivalent of "filter(bbox=...) per polygon" is a cell-id equi-join, so
this module provides the deterministic int64 cell ids the engine
partitions and joins on.

Design: an equirectangular quadtree.  At resolution ``res`` the lon/lat
domain [-180,180]x[-90,90] is an (2**res x 2**res) grid; a cell is the
integer pair (xi, yi) packed with its resolution into one int64:

    cell = res * 2**58 + yi * 2**res + xi          (0 <= res <= 26)

Required properties (SURVEY.md section 2.8):
  * hierarchy  — ``parent(cell)`` is closed-form (xi>>1, yi>>1, res-1)
  * locality   — ``ring(cell, r)`` is grid adjacency with lon wrap
  * exact determinism — integer arithmetic only after one well-defined
    float floor; bit-identical between numpy, Spark SQL and DuckDB SQL
    (see :func:`cell_id_sql`), which is what makes the cell assignment
    oracle-checkable.

Everything is array-in/array-out numpy (zero per-row Python), intended
to run inside pandas UDFs / ``mapInPandas``.
"""

from __future__ import annotations

import numpy as np

RES_SHIFT = 2**58
MAX_RES = 26


def _grid_xy(lng, lat, res: int):
    """(lng, lat) arrays -> integer grid coords at ``res``. Vectorized.

    Points exactly on the east/north domain edge clamp into the last
    cell (half-open cells, closed at the far edge) — same convention as
    the SQL form so engine and oracle agree on boundaries.
    """
    lng = np.asarray(lng, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.int64(1) << res
    xi = np.floor((lng + 180.0) / 360.0 * n).astype(np.int64)
    yi = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    xi = np.clip(xi, 0, n - 1)
    yi = np.clip(yi, 0, n - 1)
    return xi, yi


def pack(xi, yi, res: int) -> np.ndarray:
    """Pack grid coords + resolution into int64 cell ids."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    xi = np.asarray(xi, dtype=np.int64)
    yi = np.asarray(yi, dtype=np.int64)
    return np.int64(res) * RES_SHIFT + yi * (np.int64(1) << res) + xi


def unpack(cell):
    """int64 cell ids -> (xi, yi, res) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell // RES_SHIFT).astype(np.int64)
    rem = cell - res * RES_SHIFT
    n = np.int64(1) << res
    yi = rem // n
    xi = rem - yi * n
    return xi, yi, res


def cell_id(lng, lat, res: int) -> np.ndarray:
    """Cell id of each point at resolution ``res``. Vectorized numpy."""
    xi, yi = _grid_xy(lng, lat, res)
    return pack(xi, yi, res)


def parent(cell, steps: int = 1) -> np.ndarray:
    """Ancestor cell ``steps`` levels up (hierarchy property)."""
    xi, yi, res = unpack(cell)
    new_res = res - steps
    if np.any(new_res < 0):
        raise ValueError("parent below resolution 0")
    # scalar res per call is typical, but support mixed-res arrays
    return (new_res * RES_SHIFT
            + (yi >> steps) * (np.int64(1) << new_res) + (xi >> steps))


def cell_bounds(cell):
    """(west, south, east, north) degrees of each cell."""
    xi, yi, res = unpack(cell)
    n = (np.int64(1) << res).astype(np.float64)
    w = xi / n * 360.0 - 180.0
    e = (xi + 1) / n * 360.0 - 180.0
    s = yi / n * 180.0 - 90.0
    nn = (yi + 1) / n * 180.0 - 90.0
    return w, s, e, nn


def covering_counts(xmin, ymin, xmax, ymax, res: int) -> np.ndarray:
    """Number of cells covering each bbox (cheap, closed-form)."""
    x0, y0 = _grid_xy(xmin, ymin, res)
    x1, y1 = _grid_xy(xmax, ymax, res)
    return (x1 - x0 + 1) * (y1 - y0 + 1)


def cells_covering_flat(xmin, ymin, xmax, ymax, res: int):
    """Covering cells of each bbox, fully vectorized.

    Returns (row_idx, cell): parallel int64 arrays enumerating every
    (input row, covering cell) pair — no per-row Python.  The classic
    repeat/cumsum enumeration: each row i contributes nx[i]*ny[i]
    consecutive outputs; the within-row offset is recovered from a
    running-total subtraction, then split into (ox, oy) grid offsets.
    """
    x0, y0 = _grid_xy(xmin, ymin, res)
    x1, y1 = _grid_xy(xmax, ymax, res)
    base = np.int64(res) * RES_SHIFT
    n = np.int64(1) << res
    nx = x1 - x0 + 1
    ny = y1 - y0 + 1
    cnt = nx * ny
    total = int(cnt.sum())
    row_idx = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    starts = np.cumsum(cnt) - cnt
    off = np.arange(total, dtype=np.int64) - starts[row_idx]
    nx_r = nx[row_idx]
    ox = off % nx_r
    oy = off // nx_r
    cell = base + (y0[row_idx] + oy) * n + (x0[row_idx] + ox)
    return row_idx, cell


def cells_covering(xmin, ymin, xmax, ymax, res: int) -> list[np.ndarray]:
    """Covering cells of each bbox — list of int64 arrays, one per row
    (views into one flat vectorized enumeration; use
    :func:`covering_res_for` to bound the per-row blow-up)."""
    cnt = covering_counts(xmin, ymin, xmax, ymax, res)
    if len(cnt) == 0:
        return []   # np.split on an empty index list would fabricate one row
    _row_idx, cell = cells_covering_flat(xmin, ymin, xmax, ymax, res)
    return np.split(cell, np.cumsum(cnt)[:-1])


def covering_res_for(xmin, ymin, xmax, ymax, max_cells: int = 64,
                     max_res: int = MAX_RES) -> int:
    """Finest uniform resolution keeping every bbox under ``max_cells``.

    One global res (not per-row) so cell ids are join-compatible
    without a resolution-alignment pass.
    """
    w = float(np.max(np.asarray(xmax) - np.asarray(xmin)))
    h = float(np.max(np.asarray(ymax) - np.asarray(ymin)))
    side = int(np.floor(np.sqrt(max_cells)))
    for res in range(max_res, -1, -1):
        cw = 360.0 / (1 << res)
        ch = 180.0 / (1 << res)
        if (w / cw + 2) <= side and (h / ch + 2) <= side:
            return res
    return 0


def ring(cell, r: int = 1) -> list[np.ndarray]:
    """Cells at Chebyshev grid distance exactly ``r`` (locality).

    Longitude wraps at the antimeridian; latitude clips at the poles.
    r=0 returns the cell itself.  One array per input cell.
    """
    xi, yi, res = unpack(cell)
    out = []
    for i in range(len(np.atleast_1d(xi))):
        x, y, rs = int(np.atleast_1d(xi)[i]), int(np.atleast_1d(yi)[i]), int(np.atleast_1d(res)[i])
        n = 1 << rs
        if r == 0:
            out.append(pack(np.array([x]), np.array([y]), rs))
            continue
        coords = []
        for dy in range(-r, r + 1):
            ny = y + dy
            if ny < 0 or ny >= n:
                continue
            if abs(dy) == r:
                dxs = range(-r, r + 1)
            else:
                dxs = (-r, r)
            for dx in dxs:
                coords.append(((x + dx) % n, ny))
        arr = np.array(coords, dtype=np.int64).reshape(-1, 2)
        out.append(pack(arr[:, 0], arr[:, 1], rs))
    return out


def disk(cell, r: int = 1) -> list[np.ndarray]:
    """All cells within Chebyshev distance <= r (union of rings 0..r)."""
    xi, yi, res = unpack(cell)
    out = []
    for i in range(len(np.atleast_1d(xi))):
        x, y, rs = int(np.atleast_1d(xi)[i]), int(np.atleast_1d(yi)[i]), int(np.atleast_1d(res)[i])
        n = 1 << rs
        ys = np.arange(max(0, y - r), min(n - 1, y + r) + 1, dtype=np.int64)
        xs = (np.arange(x - r, x + r + 1, dtype=np.int64)) % n
        grid = np.int64(rs) * RES_SHIFT + ys[:, None] * np.int64(n) + xs[None, :]
        out.append(np.unique(grid.ravel()))
    return out


# ---------------------------------------------------------------------------
# SQL forms — the same arithmetic, emitted as ANSI SQL that runs identically
# in Spark SQL and DuckDB (floor/least/greatest/cast + * and + only), so the
# driver's DuckDB oracle can recompute cell ids bit-for-bit.
# ---------------------------------------------------------------------------

def grid_x_sql(lng_expr: str, res: int) -> str:
    n = 1 << res
    return (f"CAST(least(greatest(floor(({lng_expr} + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)")


def grid_y_sql(lat_expr: str, res: int) -> str:
    n = 1 << res
    return (f"CAST(least(greatest(floor(({lat_expr} + 90.0) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)")


def cell_id_sql(lng_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL expression equal to :func:`cell_id` for scalar res."""
    n = 1 << res
    return (f"(CAST({res} AS BIGINT) * {RES_SHIFT} + "
            f"{grid_y_sql(lat_expr, res)} * CAST({n} AS BIGINT) + "
            f"{grid_x_sql(lng_expr, res)})")
