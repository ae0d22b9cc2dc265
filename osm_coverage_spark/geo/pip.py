"""Point-in-polygon: geocell bbox-polyfill candidate join + exact ray-cast
refinement in a vectorized Arrow UDF.

Replaces the reference's GeoPandas sjoin (scripts/02_extract_alkis.py:820-837,
point-in-district assignment with a left-join fallback name) without shapely:
the crossing-number test is vectorized over (points × polygon edges) in numpy
inside ``applyInPandas`` — one pandas batch per polygon group, no per-row
Python.

Plan shape (SURVEY §4.3):
1. polygons → bbox → polyfill cells (pure SQL explode) — small table;
2. points → cell equi-join (broadcast of the polyfill) → candidates;
3. exact ray-cast in ``mapInPandas`` over the candidate batches — NO
   shuffle: rings reach executors once via a broadcast dict (polygons are
   dimension-sized), Arrow batches are bounded by maxRecordsPerBatch, and
   the crossing test vectorizes per polygon via a batch-local groupby
   (measured 4.9 s → sub-second at sf0.1 vs the per-(poly, cell)
   applyInPandas form, whose ~10³ tiny groups each paid a Python
   round-trip and shipped the ring on every candidate row);
4. left join back: unmatched points get the fallback name
   (``kein Stadtteil gefunden`` in the reference, parameterized here).
"""

from __future__ import annotations

import weakref
from collections import OrderedDict

import numpy as np
import pandas as pd  # noqa: F401  (pandas frames flow through refine)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .cells import cell_expr


def ray_cast_batch(px: np.ndarray, py: np.ndarray,
                   vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Crossing-number PIP for a batch of points against ONE polygon ring.

    px/py: (n,) point coords; vx/vy: (m,) closed-ring vertices (first !=
    last is fine — the wrap edge is included). Fully vectorized: builds an
    (n, m) crossing matrix. Boundary points follow the half-open edge rule
    (consistent, deterministic)."""
    x1, y1 = vx, vy
    x2, y2 = np.roll(vx, -1), np.roll(vy, -1)
    # edge straddles the horizontal line through the point
    py_col = py[:, None]
    px_col = px[:, None]
    straddle = (y1[None, :] > py_col) != (y2[None, :] > py_col)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (py_col - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = (straddle & (px_col < xint)).sum(axis=1)
    return (crossings % 2) == 1


_RINGS_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
_RINGS_CACHE_MAX = 8  # distinct polygon plans kept warm per session


def _rings_broadcast(spark, polygons: DataFrame, poly_name: str):
    """name → [(vx, vy), ...] broadcast, cached per (SparkContext, plan
    semantic hash) so repeated pip_join invocations over the same polygon
    plan reuse one broadcast variable instead of leaking one per call.

    Bounded LRU (r4 verdict #4 / ADVICE): eviction unpersists the
    broadcast, so a long session cycling through many distinct polygon
    plans holds at most _RINGS_CACHE_MAX live broadcasts. A weakref to
    the owning SparkContext guards against id() reuse after a context is
    GC'd/stopped (ADVICE): a hit whose context is dead or different is
    discarded, never served."""
    sc = spark.sparkContext
    try:
        key = (id(sc), polygons.semanticHash())
    except Exception:  # semanticHash unavailable → no caching
        key = None
    if key is not None and key in _RINGS_CACHE:
        bc, sc_ref = _RINGS_CACHE[key]
        if sc_ref() is sc:
            _RINGS_CACHE.move_to_end(key)
            return bc
        del _RINGS_CACHE[key]  # stale: id(sc) reused by a new context
    rings: dict[str, list] = {}
    for name, ring in polygons.select(poly_name, "ring").collect():
        rings.setdefault(name, []).append(
            (
                np.array([p["lon"] for p in ring], dtype=np.float64),
                np.array([p["lat"] for p in ring], dtype=np.float64),
            )
        )
    bc = sc.broadcast(rings)
    if key is not None:
        _RINGS_CACHE[key] = (bc, weakref.ref(sc))
        while len(_RINGS_CACHE) > _RINGS_CACHE_MAX:
            _, (old, _ref) = _RINGS_CACHE.popitem(last=False)
            try:
                old.unpersist()
            except Exception:
                pass  # context already stopped — nothing to free
    return bc


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    poly_name: str = "zone",
    res: int = 12,
    fallback: str | None = "kein Stadtteil gefunden",
) -> DataFrame:
    """points(point_id, lat, lon) × polygons(poly_name, ring:array<struct
    <lon:double, lat:double>>) → (point_id, poly_name).

    Polygons are polyfilled at bbox level (cheap superset); exact membership
    decided by the vectorized ray-cast grouped per polygon.

    ``fallback`` mimics the reference's left-join default and fixes the
    output to exactly one row per ``point_id``: its containing polygon's
    name, or ``fallback`` when none contains it. This assumes polygon
    interiors are disjoint; where two polygons do contain a point, the
    greater name wins. Pass None for inner semantics: one row per (point,
    containing polygon), so overlapping polygons can emit several rows per
    point.
    """
    ring_lon = F.transform(F.col("ring"), lambda p: p["lon"])
    ring_lat = F.transform(F.col("ring"), lambda p: p["lat"])
    polys = polygons.select(
        poly_name,
        "ring",
        F.array_min(ring_lat).alias("lat_min"),
        F.array_max(ring_lat).alias("lat_max"),
        F.array_min(ring_lon).alias("lon_min"),
        F.array_max(ring_lon).alias("lon_max"),
    )

    pts = points.select(
        point_id,
        "lat",
        "lon",
        cell_expr(F.col("lat"), F.col("lon"), res).alias("_pcell"),
    )
    # rings collected up front (cached broadcast, see _rings_broadcast) —
    # also tells us whether any name has multiple outer rings, which
    # decides if the cover needs a dedup below
    rings_b = _rings_broadcast(points.sparkSession, polygons, poly_name)
    multi_ring = any(len(r) > 1 for r in rings_b.value.values())
    # bbox polyfill: explode the polygon's cell cover (small — polygons are
    # the dimension side), broadcast-join candidates on cell equality.
    from .cells import IX_BASE, R_BASE, cell_size_deg

    sz = F.lit(cell_size_deg(res))
    ix0 = F.floor((F.col("lat_min") + F.lit(90.0)) / sz).cast("long")
    ix1 = F.floor((F.col("lat_max") + F.lit(90.0)) / sz).cast("long")
    iy0 = F.floor((F.col("lon_min") + F.lit(180.0)) / sz).cast("long")
    iy1 = F.floor((F.col("lon_max") + F.lit(180.0)) / sz).cast("long")
    cover = (
        polys.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn(
            "_pcell",
            F.lit(res).cast("long") * F.lit(R_BASE)
            + F.col("_ix") * F.lit(IX_BASE)
            + F.col("_iy"),
        )
        .select(poly_name, "_pcell")
    )
    if multi_ring:
        # two rings of one name may cover the same cell — without this
        # dedup the candidate join would emit duplicate hits; skipped in
        # the common single-ring case (no duplicates possible)
        cover = cover.distinct()

    # rings travel ONCE per executor as a broadcast dict (polygons are the
    # dimension side — same size assumption the broadcast cover already
    # makes), NOT as an array column replicated onto every candidate row:
    # candidate rows stay narrow and no groupBy shuffle is needed.
    # Keyed name → LIST of rings: a boundary with exclaves / multiple
    # assembled outer rings (sources/pbf.relation_boundary_rings) gets
    # every ring ray-cast and the results OR-ed — one ring row must not
    # shadow another. Broadcasts are cached per (context, plan) so
    # repeated invocations (bench loops, long sessions) reuse one
    # broadcast instead of leaking a new one per call.
    # fallback path: LEFT join against the cover so cell-less points
    # survive to the refine stage — the final assembly is then ONE tiny
    # groupBy over (id, hit-zone-or-null) pairs instead of a second pass
    # over the points table plus a join behind the Python ray-cast
    # (r6 session 3: 1.62 → 1.13 s at sf1.0-replica; the r6 session-2
    # stream-side-repartition variant of that join is superseded).
    cand = pts.join(F.broadcast(cover), "_pcell",
                    "inner" if fallback is None else "left")

    schema = StructType(
        [f for f in cand.schema.fields if f.name in (point_id, poly_name)]
    )
    flag_misses = fallback is not None

    def refine(batches):
        # mapInPandas (not applyInPandas): no shuffle — each Arrow batch
        # holds MANY (polygon, cell) candidate groups and is bounded by
        # maxRecordsPerBatch, so a country-sized polygon still never lands
        # in one task; the ray-cast stays vectorized per polygon via a
        # batch-local groupby.
        rings = rings_b.value
        for pdf in batches:
            if not len(pdf):
                continue
            px = pdf["lon"].to_numpy(np.float64)
            py = pdf["lat"].to_numpy(np.float64)
            mask = np.zeros(len(pdf), dtype=bool)
            # dropna: a left-joined row with no cover polygon has a null
            # zone — no ray-cast, definitional miss
            for zone, idx in pdf.groupby(
                poly_name, sort=False, dropna=True
            ).indices.items():
                hit = np.zeros(len(idx), dtype=bool)
                for vx, vy in rings[zone]:  # OR across the name's rings
                    hit |= ray_cast_batch(px[idx], py[idx], vx, vy)
                mask[idx] = hit
            if flag_misses:
                # emit EVERY candidate row, null zone on miss: the
                # downstream groupBy needs the misses to resurrect the
                # fallback rows without re-deriving the points table
                out = pdf[[point_id]].copy()
                out[poly_name] = pdf[poly_name].where(mask, None)
                yield out
            else:
                out = pdf.loc[mask, [point_id, poly_name]]
                if len(out):
                    yield out

    hits = cand.mapInPandas(refine, schema)
    if fallback is None:
        # hits-only contract: one row per (point, containing polygon) —
        # overlapping polygon names CAN emit several rows per point here
        return hits
    # fallback contract: exactly ONE row per point (the fixture/reference
    # district semantics — polygon interiors are disjoint; would two
    # overlapping names both contain a point, the greater name wins).
    # max() ignores nulls, so any hit beats the miss markers, and the
    # groupBy shuffles only narrow (id, zone) pairs — strictly less than
    # the old plan's id-projection exchange + join on the same key space.
    return hits.groupBy(point_id).agg(
        F.max(poly_name).alias(poly_name)
    ).withColumn(poly_name, F.coalesce(F.col(poly_name), F.lit(fallback)))
