"""Hierarchical quadtree tile index (from-scratch H3/S2 stand-in).

No geo library exists in this environment (and the north rule demands a
from-scratch build), so the engine defines its own hierarchical cell
scheme over the lat/lng plate-carree plane:

  * resolution r in [0, 26]; the world splits into 4^r cells;
  * ix = floor((lng+180)/360 * 2^r), iy = floor((lat+90)/180 * 2^r)
    (clamped so lng=180 / lat=90 land in the last cell);
  * path = Morton interleave of (ix, iy), x in the odd (high) bit of
    each 2-bit quadrant digit;
  * cell id (int64) = path LEFT-ALIGNED to the res-26 grid, with the
    resolution in the low 5 bits:
        cell = (path << (2*(26-r) + 5)) | r
    Left-alignment gives the ANCESTOR-PREFIX property: for any res
    r' <= r, parent and child agree on all bits above 2*(26-r')+5, so
    `cell >> k` is a spatial prefix key independent of resolution —
    this is the cell-prefix partition column the north rule requires.

The SAME spec is emitted three ways so plans stay JVM-side and oracles
stay honest:
  * NumPy kernels (cell_of / cell_parent / cell_bounds / polyfill) for
    use inside pandas UDFs;
  * cell_stages: the cell id as a short chain of SQL projections (grid
    index, one stage per Morton spread step that does work, the cell),
    valid in BOTH Spark SQL and DuckDB (bitwise << >> & | are shared
    syntax). tile_ops.assign_tiles applies the chain as Spark
    projections, so tile assignment is a pure Catalyst expression,
    fully codegen'd, no Python, and every stage reads its inputs as
    columns: the plan computes each grid index once, and Spark parses a
    few hundred characters per stage instead of one expression that
    repeats the grid index 32 times. cell_of_sql folds the same chain
    into one expression string for DuckDB oracles and SQL text;
  * cell_parent_sql / cell_prefix_sql for rollups and partition keys.

Morton spreading uses the classic mask-doubling trick (public-domain
bit twiddling, cf. the interleave in reference
src/flatbush/hilbert.rs:124-132 which uses the same masks at 16 bits).
A step whose shift is >= res is the identity (the grid index is below
2^res and the step's mask clears everything it shifts in), so both the
NumPy and the SQL forms run only the steps with shift < res.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_BITS = 5
_RES_MASK = (1 << _RES_BITS) - 1
_PREFIX_MAX = 2 * MAX_RES + _RES_BITS  # one above the path's MSB (bit 56)

# 64-bit Morton spread masks (26 significant input bits)
_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)

__all__ = [
    "MAX_RES",
    "cell_of",
    "cell_res",
    "cell_parent",
    "cell_children",
    "cell_bounds",
    "cell_prefix",
    "polyfill",
    "cell_stages",
    "cell_of_sql",
    "cell_parent_sql",
    "cell_prefix_sql",
]


# ----------------------------------------------------------------------
# NumPy kernels
# ----------------------------------------------------------------------

def _spread_steps(res: int):
    """The spread steps that change a grid index below 2^res."""
    return [(shift, mask) for shift, mask in _SPREAD_MASKS if shift < res]


def _spread(v: np.ndarray, res: int) -> np.ndarray:
    v = v.astype(np.int64)
    for shift, mask in _spread_steps(res):
        v = (v | (v << shift)) & mask
    return v


def _unspread(v: np.ndarray) -> np.ndarray:
    v = v & 0x5555555555555555
    for shift, mask in reversed(_SPREAD_MASKS):
        v = (v | (v >> shift)) & (
            {16: 0x00000000FFFFFFFF, 8: 0x0000FFFF0000FFFF, 4: 0x00FF00FF00FF00FF,
             2: 0x0F0F0F0F0F0F0F0F, 1: 0x3333333333333333}[shift]
        )
    return v


def _grid_xy(lat, lng, res: int):
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    n = np.int64(1) << res
    ix = np.minimum(np.floor((lng + 180.0) / 360.0 * n), n - 1).astype(np.int64)
    iy = np.minimum(np.floor((lat + 90.0) / 180.0 * n), n - 1).astype(np.int64)
    ix = np.maximum(ix, 0)
    iy = np.maximum(iy, 0)
    return ix, iy


def _check_range(name: str, value: int, hi: int) -> None:
    if not 0 <= value <= hi:
        raise ValueError(f"{name} must be in [0, {hi}]")


def cell_of(lat, lng, res: int):
    """Cell id of (lat, lng) at resolution res. Vectorized int64."""
    _check_range("res", res, MAX_RES)
    ix, iy = _grid_xy(lat, lng, res)
    path = (_spread(ix, res) << 1) | _spread(iy, res)
    return (path << np.int64(2 * (MAX_RES - res) + _RES_BITS)) | np.int64(res)


def cell_res(cell):
    return np.asarray(cell, dtype=np.int64) & _RES_MASK


def cell_parent(cell, parent_res: int):
    """Ancestor cell at a coarser resolution (prefix truncation).
    ValueError for parent_res outside [0, MAX_RES]."""
    _check_range("parent_res", parent_res, MAX_RES)
    cell = np.asarray(cell, dtype=np.int64)
    shift = np.int64(2 * (MAX_RES - parent_res) + _RES_BITS)
    return ((cell >> shift) << shift) | np.int64(parent_res)


def cell_children(cell):
    """The 4 children one resolution finer. Input scalar or array."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res = cell & _RES_MASK
    child_res = res + 1
    shift = 2 * (MAX_RES - child_res) + _RES_BITS
    base = (cell >> _RES_BITS) << _RES_BITS  # strip res bits (path is left-aligned)
    quads = np.arange(4, dtype=np.int64)
    return (base[:, None] | (quads[None, :] << shift[:, None])) | child_res[:, None]


def cell_grid_xy(cell):
    """Back out (res, ix, iy) from a cell id."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell & _RES_MASK
    path = cell >> (2 * (MAX_RES - res) + _RES_BITS)
    return res, _unspread(path >> 1), _unspread(path)


def cell_bounds(cell):
    """(lngmin, latmin, lngmax, latmax) of cells. Vectorized."""
    res, ix, iy = cell_grid_xy(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lngmin = ix / n * 360.0 - 180.0
    latmin = iy / n * 180.0 - 90.0
    return lngmin, latmin, lngmin + 360.0 / n, latmin + 180.0 / n


def cell_prefix(cell, prefix_bits: int = 12):
    """Spatial partition key: top `prefix_bits` path bits, res-independent.

    The path's MSB sits at bit 2*MAX_RES + _RES_BITS - 1 = 56, so the
    top k path bits are `cell >> (57 - k)`. ValueError for prefix_bits
    outside [0, 57].
    """
    _check_range("prefix_bits", prefix_bits, _PREFIX_MAX)
    return np.asarray(cell, dtype=np.int64) >> np.int64(_PREFIX_MAX - prefix_bits)


def polyfill(polygon, res: int, mode: str = "intersect") -> np.ndarray:
    """Cells at `res` that intersect (or are contained in) a polygon.

    `polygon` is a polygon of a layer (a PolygonLayer polygon view).
    mode='intersect' emits every cell touching the polygon;
    mode='contained' only cells fully inside. Runs the one cover BFS
    (PolygonLayer._cover: envelope prune, boundary-crossed cells split,
    cells with an interior center and no crossing emit their whole
    subtree) on the layer's own arena, limited to the polygon's
    position, so every cover in the engine comes from the same code.
    Returns sorted unique int64 cell ids; ValueError for res outside
    [0, MAX_RES] or another mode.
    """
    return polygon.layer._cover(res, mode, [polygon.pos])[1]


# ----------------------------------------------------------------------
# SQL expression generators (valid in Spark SQL AND DuckDB)
# ----------------------------------------------------------------------

def cell_stages(res: int) -> list:
    """The cell id at `res` as a chain of SQL projection stages.

    Each stage maps output names to SQL templates over the previous
    stage's names in `{}` fields; the first stage reads the inputs
    `{lat}` and `{lng}`. The chain computes the clamped grid index
    (ix, iy), runs one stage per spread step with shift < res
    (_spread_steps), and ends in one stage naming `cell`. Spark applies
    each stage as a projection (tile_ops.assign_tiles); cell_of_sql
    folds them into one expression.
    """
    _check_range("res", res, MAX_RES)
    n = 1 << res
    stages = [{
        "ix": f"greatest(0, least(cast(floor(({{lng}} + 180.0) / 360.0 * {n}) as bigint), {n - 1}))",
        "iy": f"greatest(0, least(cast(floor(({{lat}} + 90.0) / 180.0 * {n}) as bigint), {n - 1}))",
    }]
    for shift, mask in _spread_steps(res):
        stages.append({
            v: f"(({{{v}}} | ({{{v}}} << {shift})) & {mask})" for v in ("ix", "iy")
        })
    shift = 2 * (MAX_RES - res) + _RES_BITS
    stages.append({"cell": f"(((({{ix}} << 1) | {{iy}}) << {shift}) | {res})"})
    return stages


def fold_stages(stages: list, env: dict) -> dict:
    """Substitute each stage into the next, starting from `env` (name
    -> SQL expression); returns the last stage's expressions."""
    for stage in stages:
        env = {name: sql.format(**{k: f"({v})" for k, v in env.items()})
               for name, sql in stage.items()}
    return env


def cell_of_sql(lat: str, lng: str, res: int) -> str:
    """Pure-SQL cell_of — same closed form both engines, no UDF: the
    cell_stages chain folded into one expression (DuckDB oracles, SQL
    text). Spark queries assign cells with tile_ops.assign_tiles, which
    keeps the stages apart."""
    return fold_stages(cell_stages(res), {"lat": lat, "lng": lng})["cell"]


def cell_parent_sql(cell: str, parent_res: int) -> str:
    _check_range("parent_res", parent_res, MAX_RES)
    shift = 2 * (MAX_RES - parent_res) + _RES_BITS
    return f"(((({cell}) >> {shift}) << {shift}) | {parent_res})"


def cell_prefix_sql(cell: str, prefix_bits: int = 12) -> str:
    _check_range("prefix_bits", prefix_bits, _PREFIX_MAX)
    return f"(({cell}) >> {_PREFIX_MAX - prefix_bits})"
