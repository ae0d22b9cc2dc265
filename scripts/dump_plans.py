#!/usr/bin/env python
"""Dump .explain('formatted') for headline queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python scripts/dump_plans.py <suffix> [query1,query2,...]
Writes into plans/r06/, which is gitignored: plans are dumped on demand,
never committed. Uses $SPARK_GRAFT_SF_DIR (default sf0.1).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_coverage_spark import registry  # noqa: E402
from osm_coverage_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "coverage_missing", "coverage_district_stats", "coverage_rollup",
    "corrections_fold", "knn_images", "phash_neardup", "image_tile_counts",
    "pip_zones", "dedup_minhash_lsh", "dedup_simhash", "ann_topk",
    "history_topk_improvers", "events_sessionize", "tpch_q1", "tpch_q3",
]


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_INPUT_PARTITIONS", "64")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan_dump")
    for name in names:
        fn = registry.QUERIES.get(name) or registry.RETIRED_QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
