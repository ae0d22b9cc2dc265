#!/usr/bin/env python3
"""Benchmark of the osm_coverage_spark engine: one run of one workload.

    python3 perfbench/run.py --workload coverage_lake --seed 1 --seconds 24 --trace 0

Run from the repository root. Each run:

1. refuses to start while another Spark JVM or PySpark driver is alive;
2. generates the seeded inputs (cached under perfbench/.work/inputs) and
   fingerprints the DuckDB oracle result of every checked query;
3. untraced (--trace 0): starts a bare Spark session in a fresh process
   for a set-up sample and stops it, then the main session in another
   fresh process, which runs one cold pass, then warm passes back to back
   (a closed loop, one client; as many as take --seconds at the
   workload's nominal pass time), and checks every output against its
   oracle fingerprint;
   traced (--trace 1): one untraced session for the baseline, then one
   session with the event log on and spans around the package's public
   functions, whose last warm pass gives the per-layer record;
4. prints every metric by name and unit, writes the full record to
   perfbench/.work/records/, and prints one JSON object as the last line.

Only SPARK_GRAFT_CPUS (the CPUs this process may use) and SPARK_LOCAL_DIRS
are set for the program; every other SPARK_GRAFT_* knob and
SPARK_DRIVER_MEM is removed from its environment, so it runs at its
defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PAGE = os.sysconf("SC_PAGE_SIZE")
# A run must end within 180 s; its sessions get what is left of that after
# the input preparation, and at least SESSIONS_MIN_S when a first use of a
# seed prepared the inputs for long. A session that is still running past
# the deadline is stopped.
RUN_LIMIT_S = 165
SESSIONS_MIN_S = 120
# set-ups sampled per untraced run: this many minus one bare sessions (start,
# report ready, stopped), then the main session; setup_s is their median
SETUP_SAMPLES = 2


# ---------------------------------------------------------------- processes

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, start ticks) for every visible live process (zombies,
    which have ended and wait only to be collected, are left out)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[0] != "Z":
                out[int(d)] = (int(fields[1]), fields[19])
        except (OSError, IndexError):
            continue
    return out


def _descendants(root: int, table) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _st) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        todo.extend(kids.get(p, ()))
    return seen


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def other_spark_processes() -> list[str]:
    """Command lines of live Spark JVMs / PySpark drivers not started by us."""
    me = os.getpid()
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == me:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if ("org.apache.spark.deploy.SparkSubmit" in cmd or "pyspark.daemon" in cmd
                or "pyspark-shell" in cmd):
            found.append(f"{d}: {cmd[:160]}")
    return found


class Session:
    """A worker process with its process tree sampled for resident memory.
    Every process seen in the tree is stopped and waited for at the end."""

    def __init__(self, argv: list[str], env: dict, log_path: str):
        self.log = open(log_path, "ab")
        self.spawn = time.time()
        self.proc = subprocess.Popen(argv, env=env, stdout=self.log, stderr=subprocess.STDOUT,
                                     start_new_session=True, cwd=REPO)
        self.seen: dict[int, str] = {}
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            table = _proc_table()
            tree = _descendants(self.proc.pid, table)
            for p in tree:
                if p in table:
                    self.seen.setdefault(p, table[p][1])
            self.peak = max(self.peak, sum(_rss(p) for p in tree))
            self._stop.wait(0.1)

    def wait(self, timeout: float) -> int:
        code = -1
        try:
            code = self.proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also when SIGTERM interrupts the wait
            self._stop.set()
            self._thread.join()
            self._reap()
            self.ended = time.time()
            self.log.close()
        return code

    def _reap(self) -> None:
        # SIGKILL: a finished session has written its result, one that ran
        # past its deadline or was interrupted has nothing worth saving, and
        # the run removes the Spark and temporary directories itself, so
        # the JVM's shutdown hooks have nothing left to do
        while True:
            table = _proc_table()
            alive = [p for p, st in self.seen.items() if p in table and table[p][1] == st]
            if not alive:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:  # collect our direct child if it is the one still listed
                os.waitpid(self.proc.pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.2)


def _env() -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_DRIVER_MEM"}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # keep the JVM's and Python's temporary files inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    env["PYTHONPATH"] = REPO + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["PYTHONUNBUFFERED"] = "1"
    return env


def run_session(mode: str, args, meta_path: str, data: str, run_dir: str, idx: int,
                seconds: float, deadline: float) -> dict:
    out = os.path.join(run_dir, f"session{idx}_{mode}.json")
    argv = [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
            "--workload", args.workload, "--data", data,
            "--lake", os.path.join(run_dir, f"lake{idx}"), "--seconds", str(seconds),
            "--oracle", meta_path, "--out", out, "--deadline", repr(deadline)]
    if mode == "traced":
        argv += ["--event-dir", os.path.join(run_dir, "eventlog")]
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
    s = Session(argv, _env(), os.path.join(run_dir, f"session{idx}_{mode}.log"))
    code = s.wait(timeout=deadline + 5 - time.time())
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, f"session{idx}_{mode}.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{mode} session exited with {code}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = res["ready"] - s.spawn
    res["exit_s"] = s.ended - res.get("done", res["ready"])
    res["peak_rss_mb"] = s.peak / 1e6
    return res


# ---------------------------------------------------------------- metrics

def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def end_to_end(main: dict, meta: dict) -> dict:
    import workloads

    passes = main["passes"]
    cold = passes[0]["wall_s"] if passes and passes[0]["tag"] == "p0" else float("nan")
    warm = [p["wall_s"] for p in passes if p["tag"] != "p0"]
    # the first warm pass still runs JIT-compiled code in the making (it is
    # the slowest warm pass of almost every run); it counts as warm-up when
    # later passes exist
    settled = warm[1:] if len(warm) > 1 else warm
    q1, med, q3 = quartiles(settled) if settled else (float("nan"),) * 3
    rows = workloads.input_rows(main["workload"], meta["tables"])
    attempted = len(passes) + len(main["failures"]) + len(main["checks"])
    failed = len(main["failures"]) + sum(1 for c in main["checks"] if not c[1])
    m = {
        "setup_s": (statistics.median(main.get("setup_samples") or [main["setup_s"]]), "s"),
        "warm_s": (med, "s"),
    }
    context = {
        "cold_s": (cold, "s"),
        "rows_per_s": (rows / med, "rows/s"),
        "peak_rss_mb": (main["peak_rss_mb"], "MB"),
        "failed_frac": (failed / max(attempted, 1), "ratio"),
        "warm_passes": (len(settled), "count"),
        "warm_q1_s": (q1, "s"),
        "warm_q3_s": (q3, "s"),
        "setup_samples": (len(main.get("setup_samples") or [1]), "count"),
        "input_rows": (rows, "rows"),
        "input_mb": (meta["bytes"] / 1e6, "MB"),
        "gen_s": (meta["gen_s"], "s"),
    }
    w = main.get("written") or {}
    if w.get("rows"):
        context["bytes_per_row"] = (w["bytes"] / w["rows"], "B/row")
    return {"metrics": m, "context": context, "attempted": attempted, "failed": failed}


# ---------------------------------------------------------------- main

def host_info() -> dict:
    mem = ""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal"):
                mem = line.split(":", 1)[1].strip()
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"nproc": len(os.sched_getaffinity(0)), "MemTotal": mem, "loadavg": load,
            "python": sys.version.split()[0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    signal.signal(signal.SIGTERM, _terminated)

    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.SIZES:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.SIZES)}", file=sys.stderr)
        return 2
    for need in ("osm_coverage_spark/session.py", "scripts/gen_sf_replica.py"):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"not a checkout of the repository: {need} is missing under {REPO}", file=sys.stderr)
            return 2
    others = other_spark_processes()
    if others:
        print("refusing to run: another Spark JVM or PySpark driver is alive:\n  "
              + "\n  ".join(others), file=sys.stderr)
        return 3

    import inputs
    import layers

    host = host_info()
    t0 = time.perf_counter()
    meta = inputs.prepare(REPO, os.path.join(WORK, "inputs"), args.workload, args.seed)
    prep_s = time.perf_counter() - t0
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    meta_path = os.path.join(run_dir, "input.json")
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    data = meta["path"]
    deadline = max(started + RUN_LIMIT_S, time.time() + SESSIONS_MIN_S)

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "input": meta, "input_prepare_s": prep_s}
    try:
        if args.trace:
            base = run_session("main", args, meta_path, data, run_dir, 0, 0, deadline)
            traced = run_session("traced", args, meta_path, data, run_dir, 1, 0, deadline)
            for i, r in enumerate((base, traced)):
                r["workload"] = args.workload
                r["written"] = layers.written(os.path.join(run_dir, f"lake{i}"))
            per_layer = layers.per_layer(traced, base, meta, os.path.join(run_dir, "eventlog"))
            e2e = end_to_end(base, meta)
            t_e2e = end_to_end(traced, meta)
            e2e["attempted"] += t_e2e["attempted"]
            e2e["failed"] += t_e2e["failed"]
            record.update(untraced=_slim(base), traced=_slim(traced), per_layer=per_layer)
            metrics = {k: v for k, v in per_layer.items()
                       if not k.startswith("_") and k not in layers.RECORD_ONLY}
        else:
            setups = [run_session("setup", args, meta_path, data, run_dir, i + 1, 0, deadline)["setup_s"]
                      for i in range(SETUP_SAMPLES - 1)]
            main_res = run_session("main", args, meta_path, data, run_dir, 0, args.seconds, deadline)
            main_res["setup_samples"] = setups + [main_res["setup_s"]]
            main_res["workload"] = args.workload
            main_res["written"] = layers.written(os.path.join(run_dir, "lake0"))
            e2e = end_to_end(main_res, meta)
            record.update(main=_slim(main_res), end_to_end=e2e)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e["metrics"].items()}
    finally:
        _cleanup(run_dir)

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records", os.path.basename(run_dir) + ".json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    _report(args, record, e2e, rec_path)
    for res in (record.get("main"), record.get("untraced"), record.get("traced")):
        for c in (res or {}).get("checks", []):
            if not c[1]:
                print(f"CHECK FAILED {c[0]}: {c[2]}", file=sys.stderr)
        for f in (res or {}).get("failures", []):
            print(f"PASS FAILED {f['tag']}: {f['error']}", file=sys.stderr)
    print(json.dumps({"correct": e2e["failed"] == 0, "attempted": e2e["attempted"],
                      "failed": e2e["failed"], "metrics": metrics}))
    return 0


def _terminated(signum, frame):
    """SIGTERM: unwind, so the running session's process tree is reaped."""
    raise SystemExit(128 + signum)


def _slim(res: dict) -> dict:
    return {k: v for k, v in res.items() if k not in ("spans",)}


def _cleanup(run_dir: str) -> None:
    """Keep the run's small files; drop the lake copies and shuffle dirs."""
    import shutil

    for name in os.listdir(run_dir):
        if name.startswith("lake"):
            shutil.rmtree(os.path.join(run_dir, name), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)


def _report(args, record, e2e, rec_path) -> None:
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    h = record["host"]
    print(f"  host: nproc={h['nproc']} MemTotal={h['MemTotal']} loadavg={' '.join(h['loadavg'])}")
    res = record.get("main") or record.get("traced")
    print(f"  workers imported the package from {res.get('worker_import_path')}")
    for name, (v, u) in {**e2e["metrics"], **e2e["context"]}.items():
        print(f"  {name:<16} {v if isinstance(v, list) else f'{v:.6g}'} {u}")
    if args.trace:
        for name, m in record["per_layer"].items():
            if not name.startswith("_"):
                print(f"  {name:<30} {m['value']:.6g} {m['unit']}")
    print(f"  record: {os.path.relpath(rec_path, REPO)}")


if __name__ == "__main__":
    sys.exit(main())
