"""Geospatial helpers as Catalyst expressions, in two forms.

Everything here is JVM-side Catalyst expression — no Python in the hot
path.  These are the SQL-expressible operators of SURVEY.md §2 (P1
projection, U2 tile assignment arithmetic, U3 x-wrap, tile-id packing
from /root/reference/src/index.js:202-204) plus the cell-grid used by
the spatial-join suite: cells are Web-Mercator quadtree tiles at a fixed
resolution, so the tiling pyramid doubles as the join index.

The public helpers build ``Column`` expressions.  The private ``_*_sql``
twins return the same expressions as SQL text, for plans built with
``selectExpr``/``where`` strings: one Py4J call per DataFrame step
instead of one per Column node.  Each twin is bit-identical to its
Column helper (``tests/test_operators.py`` parity test); float literals
use the ``pipeline._dbl`` DOUBLE form.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

from ..pipeline import _dbl

PI = math.pi


def project_x_col(lon: Column) -> Column:
    """Unit-square Web-Mercator x (convert.js:131-133)."""
    return lon / F.lit(360.0) + F.lit(0.5)


def project_y_col(lat: Column) -> Column:
    """Unit-square Web-Mercator y, clamped to [0,1] (convert.js:135-139).

    At the poles ``sin`` is exactly ±1 (from about ±89.9999999° on):
    the ratio would divide by zero (an error under ANSI mode) or take
    ``log(0)`` (NULL), so those rows take the reference's clamped
    values directly."""
    s = F.sin(lat * F.lit(PI) / F.lit(180.0))
    y = (F.lit(0.5)
         - F.lit(0.25) * F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)) / F.lit(PI))
    return (F.when(s >= F.lit(1.0), F.lit(0.0))
            .when(s <= F.lit(-1.0), F.lit(1.0))
            .otherwise(F.least(F.greatest(y, F.lit(0.0)), F.lit(1.0))))


def tile_coord_col(p: Column, z: int) -> Column:
    """Tile index along one axis for a projected coordinate in [0,1]."""
    n = 1 << z
    return F.least(F.greatest(F.floor(p * F.lit(float(n))).cast("long"),
                              F.lit(0)), F.lit(n - 1))


def tile_id_col(z: int, x: Column, y: Column) -> Column:
    """Pack z/x/y into one int64 key: ((2^z·y + x)·32) + z
    (/root/reference/src/index.js:202-204)."""
    n = 1 << z
    return ((F.lit(n).cast("long") * y + x) * F.lit(32).cast("long")
            + F.lit(z).cast("long"))


def wrap_x_col(x: Column, z: int) -> Column:
    """Wrap a tile x coordinate into [0, 2^z)
    (/root/reference/src/index.js:168-169)."""
    return F.pmod(x, F.lit(1 << z))


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """Single grid-cell id for a point at cell resolution ``res``."""
    px = project_x_col(lon)
    py = project_y_col(lat)
    return tile_id_col(res, tile_coord_col(px, res), tile_coord_col(py, res))


def cell_xy_cols(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    return (tile_coord_col(project_x_col(lon), res),
            tile_coord_col(project_y_col(lat), res))


def bbox_cells_col(minx: Column, miny: Column, maxx: Column, maxy: Column,
                   res: int) -> Column:
    """Array of cell ids covering a projected-space bbox (polygon cover:
    the coarse superset a cell index gives; the exact refine runs after
    the equi-join)."""
    x0 = tile_coord_col(minx, res)
    x1 = tile_coord_col(maxx, res)
    y0 = tile_coord_col(miny, res)
    y1 = tile_coord_col(maxy, res)
    xs = F.sequence(x0, x1)
    ys = F.sequence(y0, y1)
    return F.flatten(F.transform(
        xs, lambda x: F.transform(ys, lambda y: tile_id_col(res, x, y))))


# ---------------------------------------------------------- SQL-text twins
# Arguments are SQL expressions (usually column names); each result is
# the Column helper above written as SQL text.

def _project_x_sql(lon: str) -> str:
    return f"(({lon}) / {_dbl(360.0)} + {_dbl(0.5)})"


def _project_y_sql(lat: str) -> str:
    s = f"sin(({lat}) * {_dbl(PI)} / {_dbl(180.0)})"
    y = (f"{_dbl(0.5)} - {_dbl(0.25)} * log(({_dbl(1.0)} + {s}) / "
         f"({_dbl(1.0)} - {s})) / {_dbl(PI)}")
    return (f"(CASE WHEN {s} >= {_dbl(1.0)} THEN {_dbl(0.0)} "
            f"WHEN {s} <= {_dbl(-1.0)} THEN {_dbl(1.0)} "
            f"ELSE least(greatest({y}, {_dbl(0.0)}), {_dbl(1.0)}) END)")


def _tile_coord_sql(p: str, z: int) -> str:
    n = 1 << z
    return (f"least(greatest(CAST(floor(({p}) * {_dbl(n)}) AS BIGINT), 0L), "
            f"{n - 1}L)")


def _tile_id_sql(z: int, x: str, y: str) -> str:
    return f"(({1 << z}L * ({y}) + ({x})) * 32L + {z}L)"


def _bbox_cells_sql(minx: str, miny: str, maxx: str, maxy: str,
                    res: int) -> str:
    xs = f"sequence({_tile_coord_sql(minx, res)}, {_tile_coord_sql(maxx, res)})"
    ys = f"sequence({_tile_coord_sql(miny, res)}, {_tile_coord_sql(maxy, res)})"
    return (f"flatten(transform({xs}, cx_ -> transform({ys}, cy_ -> "
            f"{_tile_id_sql(res, 'cx_', 'cy_')})))")
