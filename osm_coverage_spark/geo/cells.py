"""Quantized geocell index — an H3-style hierarchical spatial key re-expressed
as pure Catalyst arithmetic (no native lib, no UDF, fully JVM-side).

The reference needs only "bucket points so nearby points share a key"
(its pandas pipeline brute-forces distance post-join,
``scripts/04_compare_optimized.py:420-421``); BASELINE.json's north_rule asks
for an H3/S2-indexed join/tiling layer. Since no h3 binding exists in this
environment, we implement an equal-angle hierarchical grid with the same API
shape (``cell(lat,lon,res)``, ``grid_disk(cell,k)``; polygons are covered by
their bbox cells in ``geo/pip.py``):

- resolution ``r`` has cell edge ``360 / 2^r`` degrees,
- cell id packs ``(r, ix=floor((lat+90)/sz), iy=floor((lon+180)/sz))`` into
  one BIGINT: ``r*2^50 + ix*2^25 + iy`` (r<=22 keeps iy < 2^25),
- ``grid_disk(cell, k)`` = the (2k+1)^2 neighbor ids = pure ``sequence`` +
  ``explode`` arithmetic (antimeridian wrap is documented out of scope for
  the Germany-extent workloads this engine targets; production would wrap
  ``iy`` modulo ``2^r``).

Everything here has a mirrored DuckDB SQL emitter so the driver's oracle can
verify cell assignments bit-for-bit.

Scale notes: the cell id is a single monotonic BIGINT — ideal shuffle /
bucketing / Iceberg-partition key; neighboring cells share high bits so
range-partitioning keeps spatial locality, and the ``cell % n_salt`` trick
composes for hot-cell salting (see operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

R_BASE = 2**50
IX_BASE = 2**25

# ~153 m cell edge in latitude at res 18 — the default match-radius tiling.
DEFAULT_RES = 18


def cell_size_deg(res: int) -> float:
    return 360.0 / (2**res)


def cell_expr(lat: Column, lon: Column, res: int) -> Column:
    """BIGINT cell id at resolution ``res`` (pure arithmetic, codegen-able)."""
    sz = F.lit(cell_size_deg(res))
    ix = F.floor((lat + F.lit(90.0)) / sz).cast("long")
    iy = F.floor((lon + F.lit(180.0)) / sz).cast("long")
    return (F.lit(res).cast("long") * F.lit(R_BASE) + ix * F.lit(IX_BASE) + iy)


def cell_sql(lat: str, lon: str, res: int) -> str:
    """DuckDB SQL text computing the identical cell id."""
    sz = repr(cell_size_deg(res))
    return (
        f"(CAST({res} AS BIGINT) * {R_BASE} "
        f"+ CAST(floor(({lat} + 90.0) / {sz}) AS BIGINT) * {IX_BASE} "
        f"+ CAST(floor(({lon} + 180.0) / {sz}) AS BIGINT))"
    )


def cell_py(lat: float, lon: float, res: int) -> int:
    import math

    sz = cell_size_deg(res)
    ix = math.floor((lat + 90.0) / sz)
    iy = math.floor((lon + 180.0) / sz)
    return res * R_BASE + ix * IX_BASE + iy


def parent_expr(cell: Column, res: int, parent_res: int) -> Column:
    """Coarsen a cell id to a parent resolution (hierarchical containment)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    shift = 2 ** (res - parent_res)
    ix = ((cell % F.lit(R_BASE)) / F.lit(IX_BASE)).cast("long")
    iy = (cell % F.lit(IX_BASE)).cast("long")
    return (
        F.lit(parent_res).cast("long") * F.lit(R_BASE)
        + (ix / F.lit(shift)).cast("long") * F.lit(IX_BASE)
        + (iy / F.lit(shift)).cast("long")
    )


def grid_disk(df: DataFrame, cell_col: str, k: int,
              out_col: str = "nbr_cell") -> DataFrame:
    """Explode each row into its (2k+1)^2 ring-k neighborhood.

    The kNN / radius-join candidate generator: join ``grid_disk(queries, k)``
    with targets on ``nbr_cell == cell`` and refine with exact distance.
    Pure ``explode(sequence(...))`` — no UDF, whole-stage codegen end-to-end.
    """
    dx = F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("_dx")
    df = df.select("*", dx)
    dy = F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("_dy")
    df = df.select("*", dy)
    return df.withColumn(
        out_col,
        F.col(cell_col) + F.col("_dx") * F.lit(IX_BASE) + F.col("_dy"),
    ).drop("_dx", "_dy")


def disc_stencil(lat: Column, lon: Column, res: int) -> Column:
    """The ≤4 cells a point's radius-r disc can touch, as an array to
    explode — exact when the cell edge is ≥ 2r (the disc then crosses at
    most the NEARER boundary per axis, so the quadrant {own, ±1 lat} ×
    {own, ±1 lon} covers every intersected cell). 4 rows instead of ring-1's
    9: 2.25× less shuffle volume for radius-bounded joins, same answers.
    Pure floor/when arithmetic — whole-stage codegen."""
    sz = F.lit(cell_size_deg(res))
    fx = (lat + F.lit(90.0)) / sz
    fy = (lon + F.lit(180.0)) / sz
    dx = F.when(fx - F.floor(fx) < 0.5, F.lit(-1)).otherwise(F.lit(1))
    dy = F.when(fy - F.floor(fy) < 0.5, F.lit(-1)).otherwise(F.lit(1))
    base = cell_expr(lat, lon, res)
    ddx = dx.cast("long") * F.lit(IX_BASE)
    ddy = dy.cast("long")
    return F.array(base, base + ddx, base + ddy, base + ddx + ddy)


def grid_disk_sql(cell: str, k: int) -> str:
    """DuckDB: lateral-unnest neighbor generator returning column ``nbr_cell``.

    Usage: ``SELECT ... FROM t, {grid_disk_sql('t.cell', k)} AS g(nbr_cell)``
    is awkward in DuckDB; instead emit a cross join against two series::

        CROSS JOIN (SELECT unnest(generate_series(-k, k)) AS _dx) dxs
        CROSS JOIN (SELECT unnest(generate_series(-k, k)) AS _dy) dys

    and compute ``{cell} + _dx * IX_BASE + _dy``. This helper returns the
    value expression; callers add the two cross joins.
    """
    return f"({cell} + _dx * {IX_BASE} + _dy)"


GRID_DISK_SQL_JOINS = (
    "CROSS JOIN (SELECT unnest(generate_series(-{k}, {k})) AS _dx) _dxs "
    "CROSS JOIN (SELECT unnest(generate_series(-{k}, {k})) AS _dy) _dys"
)

