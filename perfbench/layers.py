"""Per-layer record of a traced session: Spark event log + driver spans.

The event log is folded into one record per job group. The traced worker
tags every job with ``<pass>:<step>`` or ``probe:<layer>``, so a group is
one query (or write) of one pass, or one layer probe. Per group we keep
task counts and times, input, shuffle and spill bytes, and the plan
nodes of its SQL executions (the final adaptive plan) with their SQL
metric totals. Task time of a plan node's stage is found through the SQL
metric accumulators that stage's tasks updated.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")
MB = 1e6

# Times of layers that run on one workload only: on the other workload each
# reads exactly 0.0 on every run, and a time that reads the same on every
# run is not a measurement. They are printed and kept in the run record,
# not in the result line. Counters and ratios of the same layers are in the
# result line; ``spark.python_share`` carries the Python boundary there.
RECORD_ONLY = {
    "prepare.alkis_s", "prepare.osm_s", "coverage.flag_s", "pip.ring_collect_s",
    "pip.python_s", "text.winnow.python_s",
    "layout.write_s", "sinks.features_s",
    "spark.python_eval_s",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class Group:
    def __init__(self):
        self.tasks = self.failed = 0
        self.run_s = 0.0
        self.shuffle_w = self.shuffle_r = self.spill_disk = self.spill_mem = 0.0
        self.executions: set[int] = set()
        self.stages: set[int] = set()


def fold(event_dir: str):
    """Return (groups, nodes_of, stage_stats) from the session's event log."""
    logs = os.listdir(event_dir)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    path = os.path.join(event_dir, logs[0])
    files = [path]
    if os.path.isdir(path):  # rolling (v2) log: events_<n>_<app> parts
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    stage_stats: dict[int, dict] = defaultdict(lambda: {"tasks": 0, "run_s": 0.0, "accs": set()})
    plans: dict[int, dict] = {}
    acc = defaultdict(float)
    for line in _lines(files):
        e = json.loads(line)
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                groups[g].executions.add(int(xid))
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            g = groups[stage_group.get(sid, "")]
            g.stages.add(sid)
            info, tm = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            g.tasks += 1
            ok = (e.get("Task End Reason") or {}).get("Reason") == "Success"
            g.failed += 0 if ok and not info.get("Failed") else 1
            run = tm.get("Executor Run Time", 0) / 1e3
            g.run_s += run
            g.shuffle_w += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g.shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.spill_disk += tm.get("Disk Bytes Spilled", 0)
            g.spill_mem += tm.get("Memory Bytes Spilled", 0)
            st = stage_stats[sid]
            st["tasks"] += 1
            st["run_s"] += run
            for a in info.get("Accumulables") or []:
                acc[a["ID"]] += _num(a.get("Update"))
                st["accs"].add(a["ID"])
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e["sparkPlanInfo"]
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e.get("accumUpdates") or []:
                acc[aid] += _num(v)

    def nodes_of(group: str) -> list[dict]:
        out = []
        for xid in sorted(groups[group].executions) if group in groups else []:
            todo = [plans[xid]] if xid in plans else []
            while todo:
                n = todo.pop()
                todo.extend(n.get("children") or [])
                out.append({"name": n.get("nodeName", ""), "desc": n.get("simpleString", ""),
                            "metrics": {m["name"]: acc.get(m["accumulatorId"], 0.0)
                                        for m in n.get("metrics") or []},
                            "accs": {m["accumulatorId"] for m in n.get("metrics") or []}})
        return out

    return groups, nodes_of, stage_stats


def _lines(files):
    for name in files:
        with open(name) as f:
            yield from f


ROWS = "number of output rows"


def _rows(nodes, name_pred, desc_pat=None) -> float:
    return sum(n["metrics"].get(ROWS, 0.0) for n in nodes
               if name_pred(n["name"]) and (desc_pat is None or re.search(desc_pat, n["desc"])))


def _stages_with(nodes, stage_stats, name_pred) -> tuple[int, float]:
    """(tasks, task seconds) of the stages running any matching node."""
    accs = set().union(*[n["accs"] for n in nodes if name_pred(n["name"])] or [set()])
    tasks, run = 0, 0.0
    for st in stage_stats.values():
        if st["accs"] & accs:
            tasks += st["tasks"]
            run += st["run_s"]
    return tasks, run


def _is_python(name: str) -> bool:
    return name in PYTHON_NODES


def _python_s(nodes) -> float:
    """Time the Python workers ran, from the Python nodes' SQL metric (ms)."""
    return sum(n["metrics"].get("time to run Python workers", 0.0)
               for n in nodes if _is_python(n["name"])) / 1e3


def written(lake: str) -> dict:
    """Rows and bytes the last pass left on disk (the lake of one session)."""
    import pyarrow.parquet as pq

    from workloads import disk_usage

    def parquet_rows(path):
        n = 0
        for root, _d, names in os.walk(path):
            n += sum(pq.ParquetFile(os.path.join(root, x)).metadata.num_rows
                     for x in names if x.endswith(".parquet"))
        return n

    parts = {}
    feat = os.path.join(lake, "features")
    if os.path.isdir(feat):
        lines = 0
        for root, _d, names in os.walk(feat):
            for x in names:
                if x.startswith("part-"):
                    with open(os.path.join(root, x), "rb") as f:
                        lines += sum(1 for _ in f)
        parts["features"] = (*disk_usage(feat), lines)
    for name in ("layout",):
        p = os.path.join(lake, name)
        if os.path.isdir(p):
            parts[name] = (*disk_usage(p, ".parquet"), parquet_rows(p))
    return {"parts": {k: {"files": f, "bytes": b, "rows": r} for k, (f, b, r) in parts.items()},
            "files": sum(v[0] for v in parts.values()),
            "bytes": sum(v[1] for v in parts.values()),
            "rows": sum(v[2] for v in parts.values())}


def per_layer(traced: dict, base: dict, meta: dict, event_dir: str) -> dict:
    """Every per-layer metric, as {name: {"value", "unit"}}; a layer the
    workload does not run reports 0. The metric list is in README.md."""
    import statistics

    groups, nodes_of, stage_stats = fold(event_dir)
    tag = traced["last_tag"]
    last = next(p for p in traced["passes"] if p["tag"] == tag)
    spans = traced["spans"]
    probes = traced.get("probes") or {}
    outputs = traced.get("outputs") or {}
    cores = meta.get("cores") or int(traced["spark_conf"].get("spark.master", "local[1]")
                                     .strip("local[]") or 1)
    pass_groups = [g for g in groups if g.startswith(tag + ":")]
    step = lambda s: f"{tag}:{s}"  # noqa: E731

    def span_sum(name, pred=lambda s: True):
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"] == name and s["tag"] == tag and pred(s))

    def span_count(name):
        return sum(1 for s in spans if s["name"] == name and s["tag"] == tag)

    # registration time that happened inside builder calls
    by_id = {s["id"]: s for s in spans}

    def inside_build(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == "queries.build":
                return True
            p = by_id[p]["parent"]
        return False

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (traced["setup_s"], "s")
    m["sources.register_s"] = (span_sum("sources.register"), "s")
    m["sources.register_calls"] = (span_count("sources.register"), "count")
    pass_nodes = [n for g in pass_groups for n in nodes_of(g)]
    scans = lambda x: x.startswith("Scan ")  # noqa: E731
    m["sources.scan_mb"] = (sum(n["metrics"].get("size of files read", 0.0)
                                for n in pass_nodes if scans(n["name"])) / MB, "MB")
    m["sources.scan_tasks"] = (_stages_with(pass_nodes, stage_stats, scans)[0], "count")
    build = span_sum("queries.build")
    m["queries.build_s"] = (build - span_sum("sources.register", inside_build), "s")
    m["queries.exchanges"] = (sum(1 for n in pass_nodes if n["name"] in ("Exchange", "BroadcastExchange")),
                              "count")

    # prep chains and the coverage join (probes of the last pass's plans)
    pa, po, pf = (probes.get(k + ".s", 0.0) for k in ("prepare.alkis", "prepare.osm", "coverage.flag"))
    m["prepare.alkis_s"] = (pa, "s")
    m["prepare.osm_s"] = (po, "s")
    prep_rows = 0.0
    for k in ("prepare.alkis", "prepare.osm"):
        nodes = nodes_of(f"probe:{k}")
        prep_rows += max([n["metrics"].get(ROWS, 0.0) for n in nodes] or [0.0]) if nodes else 0.0
    m["prepare.rows_out"] = (prep_rows, "rows")
    m["coverage.flag_s"] = (pf - pa - po if pf else 0.0, "s")
    flag_nodes = nodes_of("probe:coverage.flag")
    aggs = [n["metrics"].get(ROWS, 0.0) for n in flag_nodes if n["name"] == "ObjectHashAggregate"]
    m["coverage.build_rows"] = (min(aggs) if aggs else 0.0, "rows")
    fg = groups.get("probe:coverage.flag")
    m["coverage.shuffle_mb"] = ((fg.shuffle_w / MB) if fg else 0.0, "MB")
    m["coverage.spill_mb"] = ((fg.spill_disk / MB) if fg else 0.0, "MB")

    # geo.pip
    pip_nodes = nodes_of(step("pip_zones"))
    py = [n for n in pip_nodes if _is_python(n["name"])]
    cand = 0.0
    if py:
        # rows entering the Python stage: output of the candidate join below it
        cand = _rows(pip_nodes, lambda x: "Join" in x)
    m["pip.ring_collect_s"] = (span_sum("pip.ring_collect"), "s")
    m["pip.candidates"] = (cand, "rows")
    hits = outputs.get("pip_zones.hits", 0)
    m["pip.hit_ratio"] = (hits / cand if cand else 0.0, "ratio")
    m["pip.python_tasks"] = (_stages_with(pip_nodes, stage_stats, _is_python)[0], "count")
    m["pip.python_s"] = (_python_s(pip_nodes), "s")

    # queries_text / operators.text_ops
    w_nodes = nodes_of(step("doc_winnowing"))
    m["text.winnow.python_s"] = (_python_s(w_nodes), "s")
    m["text.winnow.tasks"] = (_stages_with(w_nodes, stage_stats, _is_python)[0], "count")

    w = traced.get("written") or {"parts": {}}

    # operators.layout / operators.sinks
    lay, feat = w["parts"].get("layout", {}), w["parts"].get("features", {})
    m["layout.write_s"] = (last["steps"].get("spatial_layout", {}).get("exec_s", 0.0), "s")
    m["layout.files"] = (lay.get("files", 0), "count")
    m["layout.mb"] = (lay.get("bytes", 0) / MB, "MB")
    bbox_nodes = nodes_of(step("bbox_read"))
    read = sum(n["metrics"].get("number of files read", 0.0) for n in bbox_nodes)
    m["layout.bbox_files_ratio"] = (read / lay["files"] if lay.get("files") else 0.0, "ratio")
    m["sinks.features_s"] = (last["steps"].get("district_features", {}).get("exec_s", 0.0), "s")
    m["sinks.files"] = (feat.get("files", 0), "count")
    m["sinks.mb"] = (feat.get("bytes", 0) / MB, "MB")

    # Spark executor, whole last pass
    G = [groups[g] for g in pass_groups]
    task_s = sum(g.run_s for g in G)
    m["spark.task_s"] = (task_s, "s")
    m["spark.core_util"] = (task_s / (last["wall_s"] * cores), "ratio")
    # task-level "JVM GC Time" reads 0 on most passes at these sizes; the
    # driver JVM's collectors see the query building's garbage too
    m["spark.gc_s"] = (last.get("jvm_gc_s", 0.0), "s")
    m["spark.shuffle_write_mb"] = (sum(g.shuffle_w for g in G) / MB, "MB")
    m["spark.shuffle_read_mb"] = (sum(g.shuffle_r for g in G) / MB, "MB")
    m["spark.spill_disk_mb"] = (sum(g.spill_disk for g in G) / MB, "MB")
    m["spark.tasks"] = (sum(g.tasks for g in G), "count")
    m["spark.failed_tasks"] = (sum(g.failed for g in G), "count")
    m["spark.python_eval_s"] = (_python_s(pass_nodes), "s")
    m["spark.python_share"] = (m["spark.python_eval_s"][0] / task_s if task_s else 0.0, "ratio")

    traced_warm = [p["wall_s"] for p in traced["passes"] if p["tag"] != "p0"]
    base_warm = [p["wall_s"] for p in base["passes"] if p["tag"] != "p0"]
    m["trace.overhead_ratio"] = (statistics.median(traced_warm) / statistics.median(base_warm), "ratio")

    out = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    out["_per_step"] = {s: {"task_s": groups[step(s)].run_s, "tasks": groups[step(s)].tasks,
                            "shuffle_write_mb": groups[step(s)].shuffle_w / MB,
                            "exchanges": sum(1 for n in nodes_of(step(s))
                                             if n["name"] in ("Exchange", "BroadcastExchange")),
                            **last["steps"][s]}
                        for s in last["steps"]}
    from tracing import self_times

    out["_self_time_s"] = self_times([s for s in spans if s["tag"] == tag])
    return out
