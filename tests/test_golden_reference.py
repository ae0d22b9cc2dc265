"""End-to-end golden parity: the Spark pipeline vs an independent
pure-Python implementation of the reference's compare semantics
(FIXTURES.md F1/F2/F3 edge-case fixtures; bit-for-bit on keys —
the north_star requirement)."""

from collections import Counter

from pyspark.sql import functions as F

from osm_coverage_spark.operators import coverage
from osm_coverage_spark.sources import fixtures

ALKIS_SCHEMA = (
    "alkis_id string, street string, housenumber string, city string, "
    "district string, state string, lon double, lat double"
)
OSM_SCHEMA = (
    "street string, housenumber string, housename string, city string, "
    "lon double, lat double"
)


def _run_pipeline(spark, corrections):
    alkis_rows = fixtures.make_alkis()
    osm_rows = fixtures.make_osm(alkis_rows)
    alkis = spark.createDataFrame(
        [tuple(r[k] for k in ("alkis_id", "street", "housenumber", "city",
                              "district", "state", "lon", "lat"))
         for r in alkis_rows],
        ALKIS_SCHEMA,
    )
    osm = spark.createDataFrame(
        [tuple(r[k] for k in ("street", "housenumber", "housename", "city",
                              "lon", "lat"))
         for r in osm_rows],
        OSM_SCHEMA,
    )
    out = coverage.coverage_pipeline(alkis, osm, corrections=corrections)
    golden = fixtures.golden_compare(alkis_rows, osm_rows, corrections)
    return out, golden


def _compare(out, golden):
    got_missing = sorted(
        (r["alkis_id"], r["housenumber"], r["district"], r["state"])
        for r in out["missing"].collect()
    )
    assert got_missing == golden["missing"]

    got_stats = {
        (r["state"], r["district"]): (r["total"], r["missing"], r["corrections"])
        for r in out["district_stats"].collect()
    }
    want_stats = {
        k: (v["total"], v["missing"], v["corrections"])
        for k, v in golden["district_stats"].items()
    }
    assert got_stats == want_stats


def test_golden_end_to_end_no_corrections(spark):
    out, golden = _run_pipeline(spark, corrections=None)
    _compare(out, golden)
    # sanity: fixtures exercise both outcomes
    assert golden["missing"], "fixture should produce missing rows"
    n_missing = len(golden["missing"])
    n_total = sum(v["total"] for v in golden["district_stats"].values())
    assert 0 < n_missing < n_total


def test_golden_end_to_end_with_corrections(spark):
    out, golden = _run_pipeline(spark, corrections=fixtures.CORRECTIONS)
    _compare(out, golden)
    # the ignore correction must remove its rows from district missing
    ignored = out["flagged"].filter(F.col("correction_type") == "ignored").count()
    assert ignored > 0


def test_export_equals_missing_union_corrected(spark):
    """The single-filter export keeps the union definition: missing rows
    with matched=false plus corrected-or-ignored rows with matched=true."""
    out, _ = _run_pipeline(spark, corrections=fixtures.CORRECTIONS)
    flagged = out["flagged"]
    ctype = F.col("correction_type")
    missing = ~F.col("found_in_osm") & (F.coalesce(ctype, F.lit("")) != "ignored")
    corrected = (F.col("found_in_osm") & ctype.isNotNull()) | (ctype == "ignored")
    cols = list(coverage.EXPORT_COLS)
    want = flagged.filter(missing).withColumn("matched", F.lit(False)).select(cols).unionByName(
        flagged.filter(corrected).withColumn("matched", F.lit(True)).select(cols)
    )
    got = out["export"]
    assert got.columns == cols
    rows = Counter(tuple(r) for r in got.collect())
    assert rows == Counter(tuple(r) for r in want.collect())
    assert {r[cols.index("matched")] for r in rows} == {False, True}


def test_flag_found_cell_path_equals_plain_key_join(spark):
    """The cell-ring optimized match must give identical flags to the naive
    key-equality + distance join (use_cells=False)."""
    alkis_rows = fixtures.make_alkis()
    osm_rows = fixtures.make_osm(alkis_rows)
    alkis = spark.createDataFrame(
        [tuple(r[k] for k in ("alkis_id", "street", "housenumber", "city",
                              "district", "state", "lon", "lat"))
         for r in alkis_rows],
        ALKIS_SCHEMA,
    )
    osm = spark.createDataFrame(
        [tuple(r[k] for k in ("street", "housenumber", "housename", "city",
                              "lon", "lat"))
         for r in osm_rows],
        OSM_SCHEMA,
    )
    a = coverage.prepare_alkis(alkis, None)
    o = coverage.prepare_osm(osm)

    def snap(df):
        return sorted(
            (r["alkis_id"], r["housenumber"], r["found_in_osm"])
            for r in df.collect()
        )

    assert snap(coverage.flag_found(a, o, use_cells=True)) == snap(
        coverage.flag_found(a, o, use_cells=False)
    )
