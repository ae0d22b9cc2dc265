"""Great-circle distance as a pure column expression (+ DuckDB mirror).

The reference measures planar distance in EPSG:25832 meters
(``scripts/04_compare_optimized.py:420-421``, threshold 150 m). Haversine
is the engine's cheap default (agrees within ~0.3 % at the sub-km ranges
the thresholds operate on); for exact reference semantics the
``utm25832`` backend (geo/crs.py — real Krüger-series projection, also
pure column math) is selectable per query with ``dist_backend=`` on
``operators/coverage.flag_found`` and ``coverage_pipeline``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Distance in meters; sin/cos/asin only — whole-stage codegen."""
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dphi / 2), 2)
        + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlmb / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def haversine_m_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical formula as DuckDB SQL text (same double-precision ops)."""
    return (
        f"(2.0 * {EARTH_RADIUS_M} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) "
        f"+ cos(radians({lat1})) * cos(radians({lat2})) "
        f"* pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)"
        f")))"
    )
