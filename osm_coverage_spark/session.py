"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are what we would
ship in ``spark-defaults.conf`` on a real cluster (AQE on, skew-join on,
Arrow on, shuffle partitions sized to the cluster, not the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osm_coverage_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    inherit = os.environ.get("SPARK_GRAFT_INHERIT_MASTER") == "1"
    master = None if inherit else (master or f"local[{cpus}]")
    # In local[N] the shuffle width should track N; on a cluster it tracks
    # total executor cores (AQE coalesces the excess at runtime anyway).
    n_shuffle = shuffle_partitions or max(cpus, 8)

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local heap: 16g default, env-overridable. Measured both ways
        # (r6): at a ~60 M-row-fact replica the flagship's reduce stage
        # spills under 16g (347 MB disk / 41 s GC) and SPARK_DRIVER_MEM=48g
        # wins 17 % there — but at the driver's measured SFs (0.1/1.0) the
        # bigger heap consistently LOSES 0.1–0.2 s per Python-stage query
        # (G1 ergonomics), so the default stays 16g; raise the env only
        # when the data actually pressures memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # No per-call origin capture. PySpark 4.1 wraps every
        # ``functions.*`` call and Column method in ``_with_origin``, which
        # records the Python call site: about five Py4J round trips and a
        # stack walk per Column built (4-vCPU host: ``F.col`` 1.5 → 0.6 ms,
        # ``cells.disc_stencil`` 49 → 17 ms with it off). A coverage
        # query builds thousands of Columns, so building its plan cost about
        # as much as running it. The trade: a runtime error's query context
        # no longer names the Python ``file:line`` that built the failing
        # expression. PySpark reads the flag once per process, from the
        # first session active when a Column is built
        # (``pyspark.errors.utils._enable_debugging_cache``), so
        # ``extra_conf`` turns it back on only in a fresh process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Scan split size: the sandbox parquet has ~13-25 MB row groups, so
        # 16 MB splits align one scan task per row group (the finest
        # parallelism parquet allows — a split without a row-group midpoint
        # yields 0 rows). On a production lake with 128 MB-1 GB row groups
        # the right value is 512 MB-1 GB (guide §6: fewer, larger map
        # tasks); pass it through ``extra_conf`` there.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # InferFiltersFromGenerate turns every explode() into a pushed
        # size(expr)>0 AND isnotnull(expr) pre-filter. For this engine's
        # explode chains the generator input is an expensive derived
        # expression (regex + CASE), so the "optimization" re-evaluates it
        # twice per row INSIDE the scan task, below the parallelizing
        # repartition — tripling the per-row cost on one core (measured on
        # the coverage family; guide §1.2 step 1 / §2.4). Excluding the
        # rule is semantics-preserving: Generate itself already skips
        # empty/null arrays.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Let the planner pick shuffled-hash over sort-merge when the build
        # side fits (guide §3.1/§9): skips the per-partition sort of the
        # stream side — on the flagship that sort is the full wide ALKIS
        # table per query. AQE additionally rewrites SMJ→SHJ at runtime
        # when every post-shuffle partition is under the local-map
        # threshold. Both are cluster-sane defaults (SHJ spills per
        # partition); memory-constrained deployments can re-enable SMJ with
        # ``extra_conf={"spark.sql.join.preferSortMergeJoin": "true"}``.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
    )
    # applied after every default above, so any Spark conf can be overridden
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
