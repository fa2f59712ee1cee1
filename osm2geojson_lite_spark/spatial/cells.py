"""Hierarchical cell index (X1) — pure column arithmetic.

Cell scheme: at resolution ``r`` the lon/lat plane is a ``2^r x 2^r``
equirectangular grid.  A cell id is one bigint::

    cell = r * 2^56 + x * 2^28 + y        (x, y < 2^28; r <= 31)

Chosen over transcendental mercator math for the *index* layer because every
operation (encode, parent, neighbors, range cover) is rational IEEE
arithmetic — bit-identical across JVM/Python/SQL engines and across cluster
sizes, which the north rule's "tile assignments byte-identical at N and 4N
executors" requires.  Web-mercator XYZ tiles (the raster layer, X4) are
provided separately by :func:`mercator_tile_cols`.

Everything here returns Spark Column expressions (whole-stage codegen; no
Python in the hot path); ``np_*`` twins serve the Arrow kernels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

CELL_RES_MIN = 7
CELL_RES_MAX = 12

_RES_SHIFT = 1 << 56
_X_SHIFT = 1 << 28


def cell_size_deg(res: int) -> float:
    """Cell height in degrees (lat axis; lon axis is 2x)."""
    return 180.0 / (1 << res)


# ---------------------------------------------------------------------------
# Column-expression API (JVM-side)
# ---------------------------------------------------------------------------


def _clamped_axis(v: Column, lo: float, span: float, n: int) -> Column:
    idx = F.floor((v - F.lit(lo)) / F.lit(span) * F.lit(n)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), idx))


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Encode (lon, lat) -> cell id at ``res`` (bigint column)."""
    n = 1 << res
    x = _clamped_axis(lon, -180.0, 360.0, n)
    y = _clamped_axis(lat, -90.0, 180.0, n)
    return (F.lit(res) * F.lit(_RES_SHIFT) + x * F.lit(_X_SHIFT) + y).alias(
        f"cell_r{res}"
    )


def cell_res(cell: Column) -> Column:
    return (cell / F.lit(_RES_SHIFT)).cast("long")


def cell_xy(cell: Column) -> tuple[Column, Column]:
    rem = cell % F.lit(_RES_SHIFT)
    return (rem / F.lit(_X_SHIFT)).cast("long"), rem % F.lit(_X_SHIFT)


def cell_parent_col(cell: Column, res_from: int, res_to: int) -> Column:
    """Coarsen a cell id (X4 building block): shift x/y down by the
    resolution delta — pure integer math, no re-encode."""
    if res_to > res_from:
        raise ValueError("parent resolution must be <= child resolution")
    shift = 1 << (res_from - res_to)
    x, y = cell_xy(cell)
    px = (x / F.lit(shift)).cast("long")
    py = (y / F.lit(shift)).cast("long")
    return F.lit(res_to) * F.lit(_RES_SHIFT) + px * F.lit(_X_SHIFT) + py


def neighbor_cells_col(cell: Column, res: int, ring: int = 1) -> Column:
    """grid_disk: array of cell ids within Chebyshev distance ``ring``
    (incl. self).  X-axis wraps at the antimeridian; y clamps at poles."""
    n = 1 << res
    x, y = cell_xy(cell)
    offsets = [(dx, dy) for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1)]
    cells = []
    for dx, dy in offsets:
        nx = F.pmod(x + F.lit(dx), F.lit(n))
        ny = y + F.lit(dy)
        c = F.when(
            (ny >= 0) & (ny < n),
            F.lit(res) * F.lit(_RES_SHIFT) + nx * F.lit(_X_SHIFT) + ny,
        )
        cells.append(c)
    return F.array_distinct(
        F.filter(F.array(*cells), lambda c: c.isNotNull())
    )


def mercator_tile_cols(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    """Web-mercator XYZ raster tile (slippy-map scheme) at zoom ``z``.

    x = floor((lon+180)/360 * 2^z)
    y = floor((1 - ln(tan(phi) + 1/cos(phi)) / pi) / 2 * 2^z),  phi=radians(lat)
    with lat clamped to the mercator domain (+-85.0511287798066).
    """
    n = 1 << z
    xt = _clamped_axis(lon, -180.0, 360.0, n)
    phi = F.radians(F.greatest(F.lit(-85.0511287798066), F.least(F.lit(85.0511287798066), lat)))
    yraw = (F.lit(1.0) - F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi)) / F.lit(float(np.pi))) / F.lit(2.0)
    yt = F.greatest(F.lit(0), F.least(F.lit(n - 1), F.floor(yraw * F.lit(n)).cast("long")))
    return xt, yt


# ---------------------------------------------------------------------------
# numpy twins (Arrow-kernel side) — identical IEEE semantics
# ---------------------------------------------------------------------------


def np_cell(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    n = 1 << res
    x = np.clip(np.floor((lon - -180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor((lat - -90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return res * _RES_SHIFT + x * _X_SHIFT + y


def cell_id(x: int, y: int, res: int) -> int:
    return res * _RES_SHIFT + x * _X_SHIFT + y
