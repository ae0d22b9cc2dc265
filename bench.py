#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Optional: SPARK_GRAFT_BENCH_QUERIES=comma,list to subset.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_coverage_spark import registry  # noqa: E402
from osm_coverage_spark.session import get_spark  # noqa: E402

# Headline set: the flagship pipeline + one representative per operator
# family. Kept in sync with registry as families land.
DEFAULT_BENCH = [
    # one headline per operator family (SURVEY §2)
    "coverage_missing",
    "coverage_district_stats",
    "coverage_rollup",
    "corrections_fold",
    "knn_images",
    "phash_neardup",
    "image_tile_counts",
    "pip_zones",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk",
    "history_topk_improvers",
    "events_sessionize",
    "tpch_q1",
    "tpch_q3",
]


def _query(name: str):
    # retired registry entries (driver-gate cap) stay benchable so the
    # headline set remains comparable across rounds
    return registry.QUERIES.get(name) or registry.RETIRED_QUERIES[name]


def run_once(spark, name: str, sf_dir: str, repeats: int) -> float:
    df = _query(name)(spark, sf_dir)

    def mat() -> float:
        t0 = time.perf_counter()
        # noop sink: materializes every output column (a bare count() would
        # let Catalyst prune computed columns and time a hollow plan)
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # one UNtimed pass at the target SF (first-touch page cache, per-plan
    # codegen, shuffle-service warm) + best-of-N: the recorded number is the
    # steady-state capability, not cold-run noise (measured ±1.5 s one-shot)
    mat()
    dt = min(mat() for _ in range(repeats))
    print(f"  {name}: {dt:.2f}s", file=sys.stderr)
    return dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    known = set(registry.QUERIES) | set(registry.RETIRED_QUERIES)
    bench = names.split(",") if names else [q for q in DEFAULT_BENCH if q in known]

    # sandbox parquet is single-row-group: without a re-split every scan
    # is one task no matter how many cores (see sources/derived.py)
    os.environ.setdefault("SPARK_GRAFT_INPUT_PARTITIONS", "64")
    spark = get_spark(app_name="osm_coverage_bench")
    # Warm JIT/codegen on the tiny SF so timed runs measure steady-state
    # throughput, not one-time whole-stage-codegen compilation.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    for name in bench:
        try:
            _query(name)(spark, warm_dir).write.mode(
                "overwrite").format("noop").save()
        except Exception as exc:  # never let warmup kill the bench
            print(f"  warmup {name} failed: {exc}", file=sys.stderr)

    # Same-session weather calibration (r4 verdict #3): the recorded
    # artifact carries a fixed-size JVM-burn timing measured by the SAME
    # session that produced the query timings. The burn is pure
    # whole-stage-codegen compute (zero input / shuffle), so its time
    # moves ONLY with delivered host capacity (observed ±25% between
    # sessions) — a round whose queries look 1.3x slower while its
    # calibration is 1.3x slower is weather, not regression.
    from osm_coverage_spark import queries_scaling

    def _calibrate() -> float:
        t0 = time.perf_counter()
        queries_scaling.scale_jvm_burn(spark, sf_dir, mult=1500).write.mode(
            "overwrite").format("noop").save()
        return time.perf_counter() - t0

    _calibrate()  # untimed JIT warm
    calibration = round(min(_calibrate() for _ in range(2)), 3)
    print(f"  calibration jvm_burn: {calibration:.2f}s", file=sys.stderr)

    # Second calibration axis: the SHUFFLE path (serialize → lz4 → disk →
    # loopback fetch). r5 observation: sessions can drift on the memory/
    # shuffle path while the CPU burn stays flat (wide-shuffle queries
    # +30% at identical jvm_burn), so weather adjudication needs both
    # probes — compare a round's pair against another round's pair.
    def _calibrate_shuffle() -> float:
        t0 = time.perf_counter()
        # parts=64: at 512 map tasks the probe times task DISPATCH
        # (~15 ms/task on this box), not the shuffle path it calibrates
        queries_scaling.scale_shuffle_probe(
            spark, sf_dir, mult=200, parts=64
        ).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    _calibrate_shuffle()  # untimed warm
    calibration_shuffle = round(min(_calibrate_shuffle() for _ in range(2)), 3)
    print(f"  calibration shuffle: {calibration_shuffle:.2f}s", file=sys.stderr)

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings: dict[str, float] = {}
    for name in bench:
        timings[name] = round(run_once(spark, name, sf_dir, repeats), 3)
    spark.stop()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration_jvm_burn_sec": calibration,
        "calibration_shuffle_sec": calibration_shuffle,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
