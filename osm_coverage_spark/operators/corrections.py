"""Sequential corrections fold — predicate-driven UPDATE as a plan, not a loop.

The reference interprets a JSON list of correction records imperatively over
the pandas frame (``scripts/04_compare_optimized.py:46-211``): three selector
classes (id equality / street+city+hnr equality with optional radius /
substring containment) × two actions (rewrite street+housenumber with
first-touch snapshots into ``original_*`` / mark ``ignored``), applied IN FILE
ORDER with later corrections seeing earlier rewrites.

Here each correction folds into a ``when/otherwise`` column rewrite on the
lazy plan — order-preserving by construction, zero shuffles, and Catalyst
collapses the projection chain into one codegen stage. The radius selector's
reference coordinates are resolved once, driver-side, from the *input* frame
(coordinates and ids are immutable under corrections, so this matches the
reference's mid-fold lookup exactly) and enter the plan as literals — the
broadcast-of-one-row degenerate case.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CORRECTION_COLS = (
    "correction_type",
    "correction_comment",
    "original_street",
    "original_housenumber",
)

RADIUS_DEG = 0.02  # geographic radius selector threshold (04:143)


def ensure_correction_columns(df: DataFrame) -> DataFrame:
    have = set(df.columns)
    missing = {c: F.lit(None).cast("string") for c in CORRECTION_COLS if c not in have}
    return df.withColumns(missing) if missing else df


def _collect_ref_points(df: DataFrame, corrections: list[dict[str, Any]]) -> dict[str, tuple[float, float]]:
    ref_ids = [c["reference_alkis_id"] for c in corrections if "reference_alkis_id" in c]
    if not ref_ids:
        return {}
    # Duplicate alkis_ids (ids hash %.3f-rounded coords) can carry slightly
    # different lon/lat; the reference's iloc[0] takes whatever row pandas
    # saw first, which is partition-order nondeterministic in Spark. Pin the
    # lexicographic (lon, lat) minimum per id — deterministic at any
    # parallelism, mirrored by the DuckDB oracle.
    rows = (
        df.filter(F.col("alkis_id").isin(ref_ids))
        .groupBy("alkis_id")
        .agg(F.min(F.struct("lon", "lat")).alias("_p"))
        .collect()
    )
    return {r["alkis_id"]: (r["_p"]["lon"], r["_p"]["lat"]) for r in rows}


def apply_corrections(df: DataFrame, corrections: list[dict[str, Any]]) -> DataFrame:
    """Fold ``corrections`` (file order) into the plan. Expects columns
    ``alkis_id, street, housenumber, district, lon, lat``."""
    df = ensure_correction_columns(df)
    if not corrections:
        return df
    ref_points = _collect_ref_points(df, corrections)

    for corr in corrections:
        tag = corr.get("tag", "corrected")
        comment = corr.get("comment")
        street = F.col("street")
        hnr = F.col("housenumber")

        mask: Column | None = None
        snapshot_hnr = True
        if "alkis_id" in corr:
            mask = F.col("alkis_id") == F.lit(corr["alkis_id"])
        elif corr.get("from_street"):
            mask = street == F.lit(corr["from_street"])
            if "city" in corr:
                mask = mask & (F.col("district") == F.lit(corr["city"]))
            if "from_housenumber" in corr:
                mask = mask & (hnr == F.lit(corr["from_housenumber"]))
            if "reference_alkis_id" in corr:
                pt = ref_points.get(corr["reference_alkis_id"])
                if pt is None:
                    mask = F.lit(False)
                else:
                    rlon, rlat = pt
                    dist_deg = F.sqrt(
                        F.pow(F.col("lon") - F.lit(rlon), 2)
                        + F.pow(F.col("lat") - F.lit(rlat), 2)
                    )
                    mask = mask & (dist_deg < F.lit(RADIUS_DEG))
        elif corr.get("replace_in_street"):
            mask = F.coalesce(street, F.lit("")).contains(F.lit(corr["replace_in_street"]))
            if "city" in corr:
                mask = mask & (F.col("district") == F.lit(corr["city"]))
            snapshot_hnr = False  # reference snapshots only the street here (04:193-196)
        else:
            continue

        # Pin the mask as a column BEFORE any write of this correction:
        # the when()-expressions below must see pre-action values, while a
        # raw Column expression would lazily re-resolve against the
        # rewritten street.
        df = df.withColumn("_m", mask)
        mask = F.col("_m")

        # First-touch snapshots (before the action, all selector branches).
        df = df.withColumn(
            "original_street",
            F.when(mask & F.col("original_street").isNull(), street).otherwise(
                F.col("original_street")
            ),
        )
        if snapshot_hnr:
            df = df.withColumn(
                "original_housenumber",
                F.when(mask & F.col("original_housenumber").isNull(), hnr).otherwise(
                    F.col("original_housenumber")
                ),
            )

        def _set(col: str, value: Column, m: Column = mask) -> None:
            nonlocal df
            df = df.withColumn(col, F.when(m, value).otherwise(F.col(col)))

        if corr.get("ignore"):
            _set("correction_type", F.lit("ignored"))
            if comment:
                _set("correction_comment", F.lit(comment))
        elif "replace_in_street" in corr:
            _set(
                "street",
                F.replace(
                    F.col("street"),
                    F.lit(corr["replace_in_street"]),
                    F.lit(corr.get("replace_with", "")),
                ),
            )
            _set("correction_type", F.lit(tag))
            if comment:
                _set("correction_comment", F.lit(comment))
        else:
            acted = False
            if "to_street" in corr:
                _set("street", F.lit(corr["to_street"]))
                acted = True
            if "to_housenumber" in corr:
                _set("housenumber", F.lit(corr["to_housenumber"]))
                acted = True
            if acted:
                _set("correction_type", F.lit(tag))
                if comment:
                    _set("correction_comment", F.lit(comment))
        df = df.drop("_m")
    return df
