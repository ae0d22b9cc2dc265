"""The flagship query: ALKIS-vs-OSM coverage diff as one lazy DataFrame DAG.

Reference lifecycle (scripts/04_compare_optimized.py:310-495): corrections →
Aachen explode → range expansion → key derivation (+ OSM housename variants)
→ chunked inner equi-join on key + planar distance < 150 m → anti-join
missing set → per-district and global stats.

Spark re-expression: the 50k-row driver chunk loop (04:401-422) disappears —
partitioned execution is the chunking. The matched/missing split is ONE
left join: the ring-exploded OSM side is pre-aggregated to one row per
(key, geocell) carrying its candidate-point set, the full ALKIS rows join
it once, and ``found_in_osm`` is an ``exists`` over the candidate array
(see ``flag_found``). One row out per ALKIS row by construction — exactly
the reference's per-row ``found_in_osm`` semantics, with each prep chain
computed once and two exchanges total.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator, Mapping
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_key_expr
from ..geo import crs
from ..geo.cells import cell_expr, disc_stencil
from ..geo.distance import haversine_m
from . import expand
from .corrections import apply_corrections, ensure_correction_columns

MATCH_DIST_M = 150.0  # reference threshold (04:421)

# Distance backends: 'haversine' (WGS84 great-circle, the engine default)
# or 'utm25832' (Euclidean meters in EPSG:25832 — the reference's exact
# metric, geo/crs.py). Both are pure codegen column math; they disagree by
# up to ~0.3 % near 50°N, which can flip decisions within ~±0.5 m of the
# 150 m boundary.
DIST_BACKENDS = {
    "haversine": haversine_m,
    "utm25832": crs.planar_dist_m,
}


def with_key(df: DataFrame, street: str = "street", hnr: str = "housenumber") -> DataFrame:
    """Null-coerce street/hnr to '' (04:362-368) and derive the match key,
    in one projection (``normalize_key_expr`` coerces its inputs itself)."""
    return df.withColumns({
        street: F.coalesce(F.col(street).cast("string"), F.lit("")),
        hnr: F.coalesce(F.col(hnr).cast("string"), F.lit("")),
        "key": normalize_key_expr(F.col(street), F.col(hnr)),
    })


def prepare_alkis(
    alkis: DataFrame,
    corrections: list[dict[str, Any]] | None = None,
    aachen: bool = True,
) -> DataFrame:
    alkis = apply_corrections(alkis, corrections or [])
    if aachen:
        alkis = expand.expand_separators(alkis)
    alkis = expand.expand_ranges(alkis)
    return with_key(alkis)


def prepare_osm(alkis_like_osm: DataFrame, aachen: bool = True) -> DataFrame:
    osm = alkis_like_osm
    if aachen and "city" in osm.columns:
        osm = expand.expand_separators(osm)
    osm = expand.expand_ranges(osm)
    if "housename" in osm.columns:
        osm = expand.add_housename_variants(osm)
    return with_key(osm)


# res-16 cells: lat edge 611 m, lon edge >= 351 m below lat 55 — both >=
# 2×150 m, so the 4-cell quadrant stencil (geo/cells.disc_stencil) is exact
# for the match radius while shuffling 2.25× fewer exploded rows than a
# ring-1 neighborhood.
MATCH_CELL_RES = 16
MATCH_STENCIL_MAX_M = 175.0  # half the res-16 lon edge at 55°N


def flag_found(alkis: DataFrame, osm: DataFrame,
               max_dist_m: float = MATCH_DIST_M,
               use_cells: bool = True,
               dist_backend: str | None = None) -> DataFrame:
    """Add ``found_in_osm``: EXISTS an OSM row with equal key within range.

    Aggregated-build single-join plan (r6: measured fastest of four shapes;
    replaces the r2-r5 probe+distinct+join-back, which computed the entire
    ALKIS prep chain TWICE — once for the narrow probe, once for the wide
    fact side — and paid 3 extra exchanges for the distinct + flag join):

    1. the ring-exploded OSM side is grouped to ONE row per
       ``(key, geocell)`` holding the collect_list of its candidate points
       (bounded: points sharing a normalized street+number key inside one
       611 m cell — dozens at most, never a whole country's hot key);
    2. the full ALKIS rows LEFT-join that aggregate on ``(key, cell)`` —
       exactly one output row per ALKIS row by construction (the build side
       is unique on the join key), so multiplicity is preserved with no
       row ids and no join-back;
    3. ``found_in_osm`` = ``exists(points, p -> dist(p) < r)`` — a codegen
       higher-order function over the (tiny) candidate array.

    Guide §2.4: the groupBy's hash partitioning IS the join's required
    distribution, so the build side costs one exchange total, the ALKIS
    side one, and the prep chains (corrections → explodes → 15-step
    normalize key) run exactly once per side.

    ``use_cells=True`` (the scale path, per SURVEY §4.1) joins on
    ``(key, geocell)`` instead of ``key`` alone: the OSM build side is
    exploded into the ≤4 res-16 cells its 150 m disc can touch (quadrant
    stencil, exact because the cell edge ≥ 2× the radius at German
    latitudes — geo/cells.disc_stencil) and each ALKIS row meets only
    geographically adjacent candidates. This turns the hot-key quadratic
    blowup (shared street+number keys across a country: ~100-300 rows/key
    both sides → ~10^8 candidate pairs at sf0.1, ~10^12 at cluster scale)
    into O(rows × 4), at 2.25× less shuffle volume than a ring-1 explode."""
    osm_cols = [
        F.col("key").alias("_okey"),
        F.col("lat").alias("_olat"),
        F.col("lon").alias("_olon"),
    ]
    pt = F.struct(F.col("_olat").alias("olat"), F.col("_olon").alias("olon"))
    if use_cells:
        if max_dist_m > MATCH_STENCIL_MAX_M:
            raise ValueError(
                "the res-16 quadrant stencil is exact only to 175 m; use a "
                f"coarser resolution for max_dist_m={max_dist_m}"
            )
        stencil = disc_stencil(F.col("lat"), F.col("lon"), MATCH_CELL_RES)
        osm_sel = osm.select(*osm_cols, F.explode(stencil).alias("_onbr"))
        # collect_list, not collect_set: exists() is duplicate-
        # insensitive, and the per-element set hashing measured 14% slower
        # than carrying the few duplicate points (sandbox: 2.68→2.36 s)
        osm_agg = osm_sel.groupBy("_okey", "_onbr").agg(
            F.collect_list(pt).alias("_opts")
        )
        acell = cell_expr(F.col("lat"), F.col("lon"), MATCH_CELL_RES)
        # Explicit repartition on the join keys so the ALKIS prep chain
        # gets its OWN shuffle-map stage: a shuffled-hash join otherwise
        # fuses the stream side's derivation into the post-build probe
        # stage, serializing the two independent branches behind the build
        # barrier (guide §2.6 — overlap independent work; stage metrics
        # showed 60 core-s of work taking 4.2 s wall at 45 % parallel
        # efficiency). With the stream side as its own stage, AQE
        # materializes both branches concurrently: 4.4 → 2.9 s measured at
        # sf1.0. The partitioning equals the join requirement, so no extra
        # exchange is added — the fused plan's exchange just moves below
        # the join.
        alkis = alkis.repartition(F.col("key"), acell)
        cond = (F.col("key") == F.col("_okey")) & (acell == F.col("_onbr"))
    else:
        osm_agg = osm.select(*osm_cols).groupBy("_okey").agg(
            F.collect_list(pt).alias("_opts")
        )
        alkis = alkis.repartition(F.col("key"))
        cond = F.col("key") == F.col("_okey")

    dist = DIST_BACKENDS[dist_backend or "haversine"]
    found = F.exists(
        F.col("_opts"),
        lambda p: dist(F.col("lat"), F.col("lon"), p["olat"], p["olon"])
        < F.lit(max_dist_m),
    )
    return alkis.join(osm_agg, cond, "left").select(
        alkis["*"], F.coalesce(found, F.lit(False)).alias("found_in_osm")
    )


def _missing() -> Column:
    """Unmatched and not 'ignored' (04:478-480)."""
    return ~F.col("found_in_osm") & (
        F.coalesce(F.col("correction_type"), F.lit("")) != "ignored"
    )


def _corrected() -> Column:
    """Matched with a correction applied, or marked 'ignored'."""
    ctype = F.col("correction_type")
    return (F.col("found_in_osm") & ctype.isNotNull()) | (ctype == "ignored")


def _coverage(total: str, digits: int) -> Column:
    return F.when(F.col(total) == 0, F.lit(100.0)).otherwise(
        F.round((F.col(total) - F.col("missing")) / F.col(total) * 100, digits)
    )


def _count_if(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def missing_rows(flagged: DataFrame) -> DataFrame:
    """District-level missing set (04:478-480)."""
    return flagged.filter(_missing())


def district_stats(flagged: DataFrame) -> DataFrame:
    """Per-district totals / missing / coverage / corrections (04:475-507)."""
    agg = flagged.groupBy("state", "district").agg(
        F.count(F.lit(1)).alias("total"),
        _count_if(_missing()).alias("missing"),
        _count_if(_corrected()).alias("corrections"),
    )
    return agg.withColumn("coverage", _coverage("total", 1))


def global_stats(flagged: DataFrame, osm_count_col_name: str = "osm") -> DataFrame:
    """State-level stats. NOTE: mirrors the reference faithfully — the global
    missing count does NOT exclude 'ignored' rows (04:432-436), unlike the
    district-level counts; coverage rounds to 2 decimals here vs 1 (04:618).
    """
    agg = flagged.groupBy("state").agg(
        F.count(F.lit(1)).alias("alkis"),
        _count_if(~F.col("found_in_osm")).alias("missing"),
        _count_if(_corrected()).alias("corrections"),
    )
    return agg.withColumn("coverage", _coverage("alkis", 2))


def rollup_stats(flagged: DataFrame) -> DataFrame:
    """state × district rollup (replaces the reference's two separate
    aggregation passes, 04:471-495 + 617-623).

    Computed as a rollup over the per-(state, district) PARTIAL sums —
    counts/sums are associative, so rolling up the ~|districts| partial rows
    is exact and avoids re-scanning the raw rows for each grouping level."""
    partial = flagged.groupBy("state", "district").agg(
        F.count(F.lit(1)).alias("_t"),
        _count_if(_missing()).alias("_m"),
    )
    return (
        partial.rollup("state", "district")
        .agg(F.sum("_t").alias("total"), F.sum("_m").alias("missing"))
        .withColumn("coverage", _coverage("total", 1))
    )


EXPORT_COLS = (
    "street", "housenumber", "lon", "lat", "matched", "correction_type",
    "correction_comment", "original_street", "original_housenumber",
    "alkis_id", "district", "state",
)


def export_rows(flagged: DataFrame) -> DataFrame:
    """Per-district GeoJSON-shaped export: missing rows (matched=false) plus
    corrected-or-ignored rows (matched=true) — 04:581-608.

    One filter over ``flagged``, not a union of two: a union plans the whole
    ``flag_found`` subtree (scans, prep chains, join) once per branch. The
    two sets are disjoint (missing needs ``¬found ∧ type≠'ignored'``), so a
    kept row is corrected exactly when it is not missing."""
    flagged = ensure_correction_columns(flagged)
    corrected = _corrected()
    matched = F.coalesce(corrected, F.lit(False)).alias("matched")
    return flagged.filter(_missing() | corrected).select(
        *[matched if c == "matched" else c for c in EXPORT_COLS]
    )


class _Lazy(Mapping[str, DataFrame]):
    """Read-only mapping whose values are built on first access, once."""

    def __init__(self, **build: Callable[[], DataFrame]):
        self._build = {name: functools.cache(f) for name, f in build.items()}

    def __getitem__(self, name: str) -> DataFrame:
        return self._build[name]()

    def __iter__(self) -> Iterator[str]:
        return iter(self._build)

    def __len__(self) -> int:
        return len(self._build)


def coverage_pipeline(
    alkis: DataFrame,
    osm: DataFrame,
    corrections: list[dict[str, Any]] | None = None,
    aachen: bool = True,
    max_dist_m: float = MATCH_DIST_M,
    dist_backend: str | None = None,
) -> Mapping[str, DataFrame]:
    """End-to-end lazy composition. The eight outputs are built on first
    access, each once: reading ``out["export"]`` builds the prep chains,
    ``flagged`` and the export only, and every output shares one
    ``flagged``. Building a DataFrame runs no Spark job, but it costs
    driver-side analysis; callers pick which outputs to read and execute."""
    out = _Lazy(
        alkis_prepared=lambda: prepare_alkis(alkis, corrections, aachen),
        osm_prepared=lambda: prepare_osm(osm, aachen),
        flagged=lambda: flag_found(
            out["alkis_prepared"], out["osm_prepared"], max_dist_m,
            dist_backend=dist_backend,
        ),
        missing=lambda: missing_rows(out["flagged"]),
        district_stats=lambda: district_stats(out["flagged"]),
        global_stats=lambda: global_stats(out["flagged"]),
        rollup_stats=lambda: rollup_stats(out["flagged"]),
        export=lambda: export_rows(out["flagged"]),
    )
    return out
