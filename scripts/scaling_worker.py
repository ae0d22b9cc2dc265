"""One scaling-bench measurement at a fixed cluster size.

Invoked via ``spark-submit --master local-cluster[E,4,6144] --conf
spark.executor.memory=5g --py-files <bundle>`` by scripts/scaling_bench.py,
which zips the package from the tree (``build_pyfiles``): E separate
executor JVMs × 4 cores × 5g — the sandbox analog of an E-executor
cluster. Runs four groups:

- SCALING_E2E   — the amplified end-to-end flagship coverage diff (the
                  north_rule's unit of measure);
- SCALING_KERNELS — compute-dense engine kernels (what a real cluster
                  multiplies);
- BOX_PROBES    — a bare shuffle, isolating the single-host resource that
                  does NOT multiply here (one disk/loopback/DRAM);
- pipeline      — the sf0.1 registry queries, context only.

Fastest-of-$REPEATS after untimed warmups; ONE JSON line on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_coverage_spark.queries_scaling import (  # noqa: E402
    BOX_PROBES,
    HOST_BURN,
    SCALING_E2E,
    SCALING_KERNELS,
    materialize,
    pipeline_workload,
)
from osm_coverage_spark.session import get_spark  # noqa: E402


def timed(df, repeats: int) -> float:
    # TWO untimed warmups: with 8 executor JVMs each must JIT its own copy
    # of the codegen classes, and one pass is measurably not enough
    materialize(df)
    materialize(df)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        materialize(df)
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def run_group(spark, group: dict, sf_dir: str, repeats: int, cpus: int) -> dict:
    out = {}
    for name, fn in group.items():
        out[name] = timed(fn(spark, sf_dir), repeats)
        print(f"  [{cpus}] {name}: {out[name]:.2f}s", file=sys.stderr)
    return out


def main() -> None:
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    os.environ.setdefault("SPARK_GRAFT_INPUT_PARTITIONS", "64")
    # Fixed 128-task shuffle width at both levels: identical logical plans
    # and task counts — only the executor count differs between N and 4N.
    spark = get_spark(app_name=f"scaling_{cpus}", shuffle_partitions=128)

    # Group ORDER is part of the protocol: kernels run FIRST on fresh
    # executors — measured 2× kernel inflation when they follow the
    # allocation-heavy e2e job (old-gen GC aftermath across 8 JVMs).
    # Per-group sample counts: an 8-executor level has ±40 % run-to-run
    # variance (per-JVM JIT/allocator state), so the claim-carrying groups
    # take many samples and report the fastest (the level's steady-state
    # capability); context groups take fewer.
    # SPARK_GRAFT_GROUPS=kernels,probes,... runs a subset (bisection runs).
    groups = os.environ.get(
        "SPARK_GRAFT_GROUPS", "burn,kernels,probes,e2e,pipeline"
    )
    want = set(groups.split(","))
    burn = kernels = probes = e2e = pipeline = {}
    if "burn" in want:
        # JVM-matched host-capacity probe runs FIRST (fresh executors, and
        # it doubles as the cross-JVM JIT warmup the kernels need)
        burn = run_group(spark, HOST_BURN, sf_dir, max(repeats, 3), cpus)
    if "kernels" in want:
        kernels = run_group(spark, SCALING_KERNELS, sf_dir, max(repeats, 3), cpus)
    if "probes" in want:
        probes = run_group(spark, BOX_PROBES, sf_dir, max(repeats, 3), cpus)
    if "e2e" in want:
        e2e = run_group(spark, SCALING_E2E, sf_dir, max(repeats, 5), cpus)
    if "pipeline" in want:
        pipeline = run_group(spark, pipeline_workload(), sf_dir, min(repeats, 2), cpus)
    spark.stop()
    print(json.dumps({
        "cpus": cpus,
        "sf_dir": sf_dir,
        "burn": burn,
        "e2e": e2e,
        "kernels": kernels,
        "box_probes": probes,
        "pipeline": pipeline,
        "e2e_total_sec": round(sum(e2e.values()), 3),
        "kernel_total_sec": round(sum(kernels.values()), 3),
        "pipeline_total_sec": round(sum(pipeline.values()), 3),
    }))


if __name__ == "__main__":
    main()
