"""Workload definitions: input sizes, the steps of one pass, and the checks.

A pass is a list of steps. Each step has a *build* half (the query-builder
or DataFrame construction a user's driver program pays) and an *exec* half
(noop-sink materialization, or the write the step performs). Both halves
are inside the timed span of a pass.

Only the ``SIZES``/``WORKLOADS`` tables are needed without pyspark; the
step and check functions import the package lazily.
"""

from __future__ import annotations

import os
import shutil

# gen_sf_replica.py multipliers per workload (see README.md for why).
SIZES = {
    "coverage_lake": {"mult": 0.1, "doc_mult": 0.5, "emb_mult": 0.5},
    "python_stages": {"mult": 0.02, "doc_mult": 0.5, "emb_mult": 0.5},
}

# Queries whose DuckDB oracle result is fingerprinted per generated input.
ORACLE_QUERIES = {
    "coverage_lake": ("coverage_export",),
    "python_stages": ("pip_zones", "doc_winnowing"),
}

# read_bbox window: one corner of the derived ALKIS extent
# (lon 6..10, lat 50..52), crossing tile boundaries on both axes.
BBOX = (50.9, 51.6, 7.1, 8.6)  # lat_min, lat_max, lon_min, lon_max

PIP_FALLBACK = "none"  # queries_images.q_pip_zones' fallback zone name

# A warm pass's time on a 4-vCPU box. A run times --seconds of warm passes
# at this speed, and the same number of passes whatever the program's
# speed: warm passes keep getting faster through a run, so a program that
# fitted more passes into --seconds would be measured further down that
# curve, and one that fitted fewer, on the slow first passes.
NOMINAL_PASS_S = {"coverage_lake": 6.0, "python_stages": 4.5}


def warm_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def input_rows(workload: str, tables: dict[str, int]) -> int:
    """Rows the workload consumes per pass: ALKIS rows (one per order) for
    coverage_lake; images (pip_zones) + documents (doc_winnowing) for
    python_stages."""
    if workload == "coverage_lake":
        return tables["orders"]
    return images(tables) + tables["documents"]


def images(tables: dict[str, int]) -> int:
    n_doc = tables["documents"]
    return n_doc + (n_doc + 6) // 7  # images_cte: a '_b' twin per doc_id % 7 == 0


def _query(name: str):
    from osm_coverage_spark import registry

    return registry.QUERIES.get(name) or registry.RETIRED_QUERIES[name]


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Step:
    """One step of a pass: ``build(spark, data) -> obj`` then ``run(obj)``."""

    def __init__(self, name, build, run=_noop):
        self.name, self.build, self.run = name, build, run


def _query_step(name: str) -> Step:
    return Step(name, lambda spark, data: _query(name)(spark, data))


def _district_features(lake: str) -> Step:
    """First step of a coverage_lake pass: it registers the derived views
    the later steps read, as one batch job does once."""

    def build(spark, data):
        from osm_coverage_spark.operators import coverage
        from osm_coverage_spark.sources import derived

        derived.register_derived_views(spark, data)
        return coverage.coverage_pipeline(spark.table("alkis"), spark.table("osm"))["export"]

    def run(export):
        from osm_coverage_spark.operators import sinks

        sinks.write_district_features(export, os.path.join(lake, "features"))

    return Step("district_features", build, run)


def _spatial_layout(lake: str) -> Step:
    def build(spark, data):
        return spark.table("alkis")

    def run(alkis):
        from osm_coverage_spark.operators import layout

        layout.write_spatial_layout(alkis, os.path.join(lake, "layout"))

    return Step("spatial_layout", build, run)


def _bbox_read(lake: str) -> Step:
    def build(spark, data):
        from osm_coverage_spark.operators import layout

        return layout.read_bbox(spark, os.path.join(lake, "layout"), *BBOX)

    return Step("bbox_read", build)


def steps(workload: str, lake: str) -> list[Step]:
    if workload == "coverage_lake":
        return [_district_features(lake), _spatial_layout(lake), _bbox_read(lake)]
    return [_query_step(q) for q in ORACLE_QUERIES["python_stages"]]


def reset_lake(lake: str) -> None:
    """Remove the previous pass's outputs so every pass writes the same."""
    shutil.rmtree(lake, ignore_errors=True)
    os.makedirs(lake, exist_ok=True)


def disk_usage(path: str, suffix: str = "") -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden/_SUCCESS files skipped."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
