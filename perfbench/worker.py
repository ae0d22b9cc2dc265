"""One Spark session of a benchmark run (started by run.py, one process).

Modes:
  setup   start a session and report when it is ready (a set-up sample)
  main    start a session, a cold pass, the warm passes --seconds asks
          for (workloads.warm_passes), output checks
  traced  as main, with the event log on, driver-side spans around the
          package's public functions, every job tagged with its pass and
          step (``sc.setJobGroup``), and layer probes after the passes

The result is one JSON file (--out). Timings use perf_counter; ``ready``
is wall-clock so run.py can measure from the moment it spawned us.
"""

from __future__ import annotations

import argparse
import contextlib
from concurrent.futures import ThreadPoolExecutor
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
DEADLINE_RESERVE_S = 20


def _session(event_dir: str | None):
    from osm_coverage_spark.session import get_spark

    conf = None
    if event_dir:
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false"}
    return get_spark(app_name="perfbench", extra_conf=conf)


def _run_pass(spark, steps, data, lake, tracer, tag):
    import workloads

    workloads.reset_lake(lake)
    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    if tracer:
        tracer.tag = tag
    sc = spark.sparkContext
    built, times = {}, {}
    for st in steps:
        if tracer:
            sc.setJobGroup(f"{tag}:{st.name}", st.name)
        a = time.perf_counter()
        with span("queries.build", step=st.name):
            obj = st.build(spark, data)
        b = time.perf_counter()
        with span("exec", step=st.name):
            ret = st.run(obj)
        c = time.perf_counter()
        built[st.name] = (obj, ret)
        times[st.name] = {"build_s": b - a, "exec_s": c - b}
    wall = sum(t["build_s"] + t["exec_s"] for t in times.values())
    if tracer:
        sc.setJobGroup("idle", "idle")
    return wall, times, built


def _jvm_gc_s(spark) -> float:
    """Collection time of the driver JVM's garbage collectors so far (in
    local mode the driver JVM also runs the tasks)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _checks(spark, workload, lake, built, oracle, tables):
    """(name, ok, detail) per output check, all outside the timed spans."""
    import pandas as pd

    import workloads
    from inputs import fingerprint, same

    out, extra = [], {}

    def cmp(name, pdf, want):
        got = fingerprint(pdf)
        ok = same(got, want)
        out.append((name, ok, "" if ok else f"spark {got} != oracle {want}"))

    queries = [q for q in workloads.ORACLE_QUERIES[workload] if q in built]
    with ThreadPoolExecutor(max_workers=max(len(queries), 1)) as pool:
        frames = list(pool.map(lambda q: built[q][0].toPandas(), queries))
    for q, pdf in zip(queries, frames):
        extra[f"{q}.rows"] = len(pdf)
        if q == "pip_zones":
            extra["pip_zones.hits"] = int((pdf["zone"] != workloads.PIP_FALLBACK).sum())
        cmp(q, pdf, oracle[q])

    if "district_features" in built:
        rows = []
        for root, _dirs, names in os.walk(os.path.join(lake, "features")):
            parts = dict(p.split("=", 1) for p in os.path.relpath(root, lake).split(os.sep)
                         if "=" in p)
            for n in names:
                if n.startswith("part-"):
                    with open(os.path.join(root, n), encoding="utf-8") as f:
                        for line in f:
                            p = json.loads(line)["properties"]
                            rows.append({"street": p.get("street"), "housenumber": p.get("housenumber"),
                                         "matched": p.get("matched"), "alkis_id": p.get("alkis_id"),
                                         "district": parts.get("district"), "state": parts.get("state")})
        extra["district_features.rows"] = len(rows)
        cmp("district_features", pd.DataFrame(rows, columns=[
            "street", "housenumber", "matched", "alkis_id", "district", "state"]),
            oracle["coverage_export"])
    if "bbox_read" in built:
        bbox = built["bbox_read"][0].select("alkis_id", "lat", "lon").toPandas()
        extra["bbox_read.rows"] = len(bbox)
        cmp("bbox_read", bbox, oracle["bbox_read"])
        from osm_coverage_spark.operators.layout import _footer_row_count

        n = _footer_row_count(os.path.join(lake, "layout"))
        out.append(("layout_rows", n == tables["orders"],
                    f"{n} rows on disk vs {tables['orders']} ALKIS rows"))
    return out, extra


def _import_path(spark) -> str:
    """Where the Python workers import the package from."""
    def probe(it):
        import pandas as pd

        import osm_coverage_spark

        for _ in it:
            pass
        yield pd.DataFrame({"p": [os.path.dirname(osm_coverage_spark.__file__)]})

    return spark.range(1).mapInPandas(probe, "p string").collect()[0]["p"]


def _probes(spark, tracer, tag) -> dict:
    """Layer probes over what the last warm pass built (traced mode only)."""
    sc = spark.sparkContext
    res = {}

    def timed(name, fn):
        sc.setJobGroup(f"probe:{name}", name)
        t0 = time.perf_counter()
        val = fn()
        res[name + ".s"] = time.perf_counter() - t0
        if val is not None:
            res[name + ".value"] = val

    for name in ("prepare.alkis", "prepare.osm", "coverage.flag"):
        kept = tracer.last_kept(name, tag)
        if kept:
            timed(name, lambda df=kept[2]: df.write.mode("overwrite").format("noop").save())
    sc.setJobGroup("idle", "idle")
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("setup", "main", "traced"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--lake", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--event-dir")
    ap.add_argument("--oracle")
    ap.add_argument("--out", required=True)
    ap.add_argument("--deadline", type=float, required=True,
                    help="wall-clock time by which the session must have exited")
    args = ap.parse_args()

    tracer = None
    if args.mode == "traced":
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    spark = _session(args.event_dir if args.mode == "traced" else None)
    result = {"ready": time.time(), "mode": args.mode}
    if args.mode == "setup":
        _write(args.out, result)
        os._exit(0)

    import workloads

    with open(args.oracle) as f:
        meta = json.load(f)
    steps = workloads.steps(args.workload, args.lake)
    passes, failures = [], []
    last_ok = None
    n_warm = workloads.warm_passes(args.workload, args.seconds)
    i, last_wall = 0, 0.0
    # a cold and a warm pass always; the other warm passes while one would
    # still leave DEADLINE_RESERVE_S for the checks and the exit
    while i < 2 or (i <= n_warm and time.time() + last_wall + DEADLINE_RESERVE_S < args.deadline):
        tag = f"p{i}"
        try:
            gc0 = _jvm_gc_s(spark) if tracer else 0.0
            wall, times, built = _run_pass(spark, steps, args.data, args.lake, tracer, tag)
            passes.append({"tag": tag, "wall_s": wall, "steps": times})
            if tracer:
                passes[-1]["jvm_gc_s"] = _jvm_gc_s(spark) - gc0
            last_ok = (tag, built)
            last_wall = wall
        except Exception:
            failures.append({"tag": tag, "error": traceback.format_exc(limit=5)})
        i += 1
        if len(failures) > 2:
            break
    result.update(passes=passes, failures=failures)

    if tracer and last_ok:
        result["probes"] = _probes(spark, tracer, last_ok[0])
        result["spans"] = tracer.spans
        result["last_tag"] = last_ok[0]
    checks, extra = [], {}
    t_checks = time.perf_counter()
    if last_ok:
        try:
            checks, extra = _checks(spark, args.workload, args.lake, last_ok[1],
                                    meta["oracle"], meta["tables"])
        except Exception:
            checks = [("checks", False, traceback.format_exc(limit=5))]
    result["checks"] = checks
    result["outputs"] = extra
    result["checks_s"] = time.perf_counter() - t_checks
    result["worker_import_path"] = _import_path(spark)
    result["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
    result["app_id"] = spark.sparkContext.applicationId
    if tracer:
        spark.stop()  # completes the event log
    result["done"] = time.time()
    _write(args.out, result)
    os._exit(0)  # run.py stops the JVM and the Python workers


def _write(path: str, obj: dict) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, default=str)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    main()
