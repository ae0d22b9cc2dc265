"""Coverage-diff query family: Spark callables + DuckDB oracle SQL pairs.

Each ``q_*`` function takes ``(spark, sf_dir)`` and returns a DataFrame built
from the engine operators over the derived `alkis`/`osm` tables
(sources/derived.py). ``ORACLE[name]`` is the equivalent DuckDB SQL the
driver runs over the same parquet views. Column names are aligned on both
sides (the driver hashes values under name-sorted columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .functions.normalize import normalize_key_sql
from .geo.distance import haversine_m_sql
from .operators import coverage, expand
from .sources import derived

RANGE_RE_SQL = r"^(\d+)\s*-\s*(\d+)$"


def _alkis(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_derived_views(spark, sf_dir)
    return spark.table("alkis")


def _osm(spark: SparkSession) -> DataFrame:
    return spark.table("osm")


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------

def q_normalize_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    alkis = _alkis(spark, sf_dir)
    return (
        coverage.with_key(alkis)
        .select("street", "housenumber", "key")
        .distinct()
    )


def q_alkis_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _alkis(spark, sf_dir).select("okey", "alkis_id")


def q_expand_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    alkis = _alkis(spark, sf_dir)
    return expand.expand_ranges(alkis).select("okey", "housenumber")


def q_expand_separators(spark: SparkSession, sf_dir: str) -> DataFrame:
    alkis = _alkis(spark, sf_dir)
    return expand.expand_separators(alkis).select("okey", "housenumber")


def q_housename_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_derived_views(spark, sf_dir)
    return expand.add_housename_variants(_osm(spark)).select(
        "street", "housenumber", "city"
    )


def q_coverage_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    alkis = _alkis(spark, sf_dir)
    out = coverage.coverage_pipeline(alkis, _osm(spark))
    return out["missing"].select("alkis_id", "street", "housenumber", "district", "state")


def q_coverage_district_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    alkis = _alkis(spark, sf_dir)
    out = coverage.coverage_pipeline(alkis, _osm(spark))
    return out["district_stats"].select(
        "state", "district", "total", "missing", "corrections", "coverage"
    )


def q_coverage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    alkis = _alkis(spark, sf_dir)
    out = coverage.coverage_pipeline(alkis, _osm(spark))
    return out["rollup_stats"].select("state", "district", "total", "missing", "coverage")


def q_coverage_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-level aggregates. Faithful to the reference: the global missing
    count does NOT exclude 'ignored' rows (04:432-436) and coverage rounds
    to 2 decimals (04:618)."""
    alkis = _alkis(spark, sf_dir)
    out = coverage.coverage_pipeline(alkis, _osm(spark))
    return out["global_stats"].select("state", "alkis", "missing", "corrections", "coverage")


def q_events_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analog of the streaming windowed aggregation (§2.10): 6-hour
    event-time windows per event_type."""
    derived.load_testdata(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").cast("string").alias("win_start"),
            "event_type",
            "n",
        )
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event attributed to the latest click by
    the same user at-or-before the purchase's timestamp (the classic
    attribution / point-in-time-correct feature lookup).

    Spark has no ASOF JOIN operator, and the naive θ-join
    (`p.user = c.user AND c.ts <= p.ts` + argmax) is a BroadcastNestedLoop
    or a per-user quadratic blowup. The scale-correct formulation is
    union-and-window: tag both streams, sort each user's merged timeline
    once, and carry the last click forward with
    `last(..., ignorenulls=True)` — ONE shuffle on user_id, linear work,
    no range-join explosion, and the window frame is running (no full
    partition buffering). Ties (click.ts == purchase.ts) sort the click
    first, giving the standard `<=` as-of semantics; among equal-ts
    clicks the greatest event_id wins (deterministic).

    The DuckDB oracle is an independently-shaped correlated top-1
    subquery (ORDER BY ts DESC, event_id DESC LIMIT 1) — different
    algorithm, same answer.
    """
    derived.load_testdata(spark, sf_dir)
    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.lit(0).alias("kind"),
        F.col("event_id").alias("cid"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("cid"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "kind", F.coalesce("cid", "event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = clicks.unionByName(purchases).select(
        "user_id",
        "ts_us",
        "kind",
        "event_id",
        F.last(F.when(F.col("kind") == 0, F.col("cid")), ignorenulls=True)
        .over(w)
        .alias("click_id"),
        F.last(F.when(F.col("kind") == 0, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("click_ts_us"),
    )
    return merged.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        "ts_us",
        "click_id",
        (F.col("ts_us") - F.col("click_ts_us")).alias("lag_us"),
    )


def q_coverage_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    alkis = _alkis(spark, sf_dir)
    out = coverage.coverage_pipeline(alkis, _osm(spark))
    return out["export"].select(
        "street", "housenumber", "matched", "alkis_id", "district", "state"
    )


# --------------------------------------------------------------------------
# DuckDB oracle side
# --------------------------------------------------------------------------

def _aachen_sql(src: str, out_name: str) -> str:
    """Separator-explode CTE (Aachen rule). unnest duplicates the row per
    list element; an empty list drops the row — explode semantics."""
    return f"""{out_name} AS (
  SELECT * EXCLUDE (housenumber),
    unnest(CASE WHEN city = 'Aachen' AND regexp_matches(housenumber, '[/,;]')
      THEN list_filter(
             list_transform(
               string_split(regexp_replace(housenumber, '[/;]', ',', 'g'), ','),
               x -> trim(x)),
             x -> x <> '')
      ELSE [housenumber] END) AS housenumber
  FROM {src}
)"""


def _ranges_sql(src: str, out_name: str) -> str:
    """Range-expansion CTE (parity step rule, inverted ranges drop)."""
    return f"""{out_name}_pre AS (
  SELECT *,
    CASE WHEN regexp_matches(trim(housenumber), '{RANGE_RE_SQL}')
         THEN CAST(regexp_extract(trim(housenumber), '{RANGE_RE_SQL}', 1) AS BIGINT)
         END AS _rs,
    CASE WHEN regexp_matches(trim(housenumber), '{RANGE_RE_SQL}')
         THEN CAST(regexp_extract(trim(housenumber), '{RANGE_RE_SQL}', 2) AS BIGINT)
         END AS _re
  FROM {src}
),
{out_name} AS (
  SELECT * EXCLUDE (_rs, _re, housenumber),
    unnest(CASE
      WHEN housenumber IS NULL OR NOT contains(housenumber, '-') THEN [housenumber]
      WHEN _rs IS NOT NULL AND _rs <= _re THEN
        list_transform(
          generate_series(_rs, _re, CASE WHEN _rs % 2 = _re % 2 THEN 2 ELSE 1 END),
          x -> CAST(x AS STRING))
      WHEN _rs IS NOT NULL THEN CAST([] AS VARCHAR[])
      ELSE [housenumber] END) AS housenumber
  FROM {out_name}_pre
)"""


def _expand_sql(src: str, out_name: str, aachen: bool = True) -> str:
    if aachen:
        return f"{_aachen_sql(src, out_name + '_aachen')},\n{_ranges_sql(out_name + '_aachen', out_name)}"
    return _ranges_sql(src, out_name)


def _keyed_sql() -> str:
    """alkis_keyed + osm_keyed CTE chain (assumes alkis/osm CTEs present).

    Order mirrors the reference's per-state lifecycle: Aachen explode →
    range expansion → null-coerce → housename variants → key (04:350-386).
    """
    key = normalize_key_sql("street", "housenumber")
    return f"""{_expand_sql('alkis', 'alkis_x')},
alkis_keyed AS (
  SELECT *, {key} AS key FROM alkis_x
),
{_expand_sql('osm', 'osm_x')},
osm_hn AS (
  SELECT street, coalesce(housenumber, '') AS housenumber, city, lon, lat
  FROM osm_x
  UNION ALL
  SELECT street, coalesce(housenumber, '') || ', ' || housename AS housenumber,
         city, lon, lat
  FROM osm_x WHERE housename IS NOT NULL AND housename <> ''
),
osm_keyed AS (
  SELECT *, {key} AS key FROM osm_hn
)"""


def _flagged_sql() -> str:
    dist = haversine_m_sql("a.lat", "a.lon", "o.lat", "o.lon")
    return f"""{_keyed_sql()},
flagged AS (
  SELECT a.*, EXISTS (
    SELECT 1 FROM osm_keyed o
    WHERE o.key = a.key AND {dist} < 150.0
  ) AS found_in_osm
  FROM alkis_keyed a
)"""


def _prelude() -> str:
    return derived.oracle_prelude_alkis_osm()


ORACLE: dict[str, str] = {}

ORACLE["normalize_key"] = f"""{_prelude()}
SELECT DISTINCT street, housenumber,
       {normalize_key_sql('street', 'housenumber')} AS key
FROM alkis
"""

ORACLE["alkis_id"] = f"""{_prelude()}
SELECT okey, alkis_id FROM alkis
"""

ORACLE["expand_ranges"] = f"""{_prelude()},
{_expand_sql('alkis', 'alkis_x', aachen=False)}
SELECT okey, housenumber FROM alkis_x
"""

ORACLE["expand_separators"] = f"""{_prelude()},
{_aachen_sql('alkis', 'alkis_x')}
SELECT okey, housenumber FROM alkis_x
"""

ORACLE["housename_variants"] = f"""{_prelude()}
SELECT street, coalesce(housenumber, '') AS housenumber, city FROM osm
UNION ALL
SELECT street, coalesce(housenumber, '') || ', ' || housename AS housenumber, city
FROM osm WHERE housename IS NOT NULL AND housename <> ''
"""

ORACLE["coverage_missing"] = f"""{_prelude()},
{_flagged_sql()}
SELECT alkis_id, street, housenumber, district, state
FROM flagged WHERE NOT found_in_osm
"""

ORACLE["coverage_district_stats"] = f"""{_prelude()},
{_flagged_sql()},
stats AS (
  SELECT state, district,
    CAST(count(*) AS BIGINT) AS total,
    CAST(sum(CASE WHEN NOT found_in_osm THEN 1 ELSE 0 END) AS BIGINT) AS missing,
    CAST(0 AS BIGINT) AS corrections
  FROM flagged GROUP BY state, district
)
SELECT state, district, total, missing, corrections,
  CASE WHEN total = 0 THEN 100.0
       ELSE round((total - missing) / CAST(total AS DOUBLE) * 100, 1) END AS coverage
FROM stats
"""

ORACLE["coverage_rollup"] = f"""{_prelude()},
{_flagged_sql()},
stats AS (
  SELECT state, district,
    CAST(count(*) AS BIGINT) AS total,
    CAST(sum(CASE WHEN NOT found_in_osm THEN 1 ELSE 0 END) AS BIGINT) AS missing
  FROM flagged GROUP BY ROLLUP (state, district)
)
SELECT state, district, total, missing,
  CASE WHEN total = 0 THEN 100.0
       ELSE round((total - missing) / CAST(total AS DOUBLE) * 100, 1) END AS coverage
FROM stats
"""

ORACLE["coverage_global_stats"] = f"""{_prelude()},
{_flagged_sql()},
stats AS (
  SELECT state,
    CAST(count(*) AS BIGINT) AS alkis,
    CAST(sum(CASE WHEN NOT found_in_osm THEN 1 ELSE 0 END) AS BIGINT) AS missing,
    CAST(0 AS BIGINT) AS corrections
  FROM flagged GROUP BY state
)
SELECT state, alkis, missing, corrections,
  CASE WHEN alkis = 0 THEN 100.0
       ELSE round((alkis - missing) / CAST(alkis AS DOUBLE) * 100, 2) END AS coverage
FROM stats
"""

ORACLE["events_windowed_counts"] = """
SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS STRING) AS win_start,
       event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""

# Correlated top-1 subquery — structurally independent of the Spark
# union-and-window plan, equality-correlated on user_id (no bare-
# inequality join; see the DuckDB IEJoin livelock note in FIXTURES.md).
ORACLE["events_asof"] = """
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
  (SELECT c.event_id FROM c
   WHERE c.user_id = p.user_id AND c.ts_us <= epoch_us(p.ts)
   ORDER BY c.ts_us DESC, c.event_id DESC LIMIT 1) AS click_id,
  epoch_us(p.ts) -
  (SELECT c.ts_us FROM c
   WHERE c.user_id = p.user_id AND c.ts_us <= epoch_us(p.ts)
   ORDER BY c.ts_us DESC, c.event_id DESC LIMIT 1) AS lag_us
FROM events p WHERE p.event_type = 'purchase'
"""

ORACLE["coverage_export"] = f"""{_prelude()},
{_flagged_sql()}
SELECT street, housenumber, FALSE AS matched, alkis_id, district, state
FROM flagged WHERE NOT found_in_osm
"""

QUERIES = {
    "normalize_key": q_normalize_key,
    "alkis_id": q_alkis_id,
    "expand_ranges": q_expand_ranges,
    "expand_separators": q_expand_separators,
    "housename_variants": q_housename_variants,
    "coverage_missing": q_coverage_missing,
    "coverage_district_stats": q_coverage_district_stats,
    "coverage_rollup": q_coverage_rollup,
    "coverage_export": q_coverage_export,
    "coverage_global_stats": q_coverage_global_stats,
    "events_windowed_counts": q_events_windowed_counts,
    "events_asof": q_events_asof,
}
