"""Seeded inputs and oracle fingerprints, cached per (sizes, seed).

Inputs are the output of ``scripts/gen_sf_replica.py --seed S``, called
unmodified. The generator copies the two fixed dimension tables (region,
nation) from a source directory; the benchmark writes those 5 + 25 constant
rows itself into the cache and points the generator there, so a run reads
nothing outside its checkout.

The oracle side is the registry's DuckDB SQL, run once per generated input.
Only an order-independent fingerprint of each result is kept.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

from workloads import BBOX, ORACLE_QUERIES, SIZES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


INTEGRAL_TOL = 1e-9  # a number this close to an integer is that integer
SUM_RTOL = 1e-6  # float column sums agree to this share of their magnitude


def fingerprint(df: pd.DataFrame) -> dict:
    """Order-independent fingerprint: row count, the wrapping uint64 sum of
    per-row hashes over the exact columns, and per-column sums of the
    float columns.

    A numeric column whose values are all integers (within INTEGRAL_TOL)
    is exact: hashed as float64, so Spark's and DuckDB's integer widths do
    not matter. Any other numeric column is a float column: Spark and
    DuckDB may disagree in its last bits, so it stays out of the hash and
    is compared through its sum, its sum of magnitudes and its null count
    (see ``same``). Everything else is hashed as strings, nulls as nulls."""
    cols, floats = {}, {}
    for c in sorted(df.columns):
        s = df[c]
        if s.dtype.kind in "biuf":
            s = s.astype("float64")
            near = s.round()
            if ((s - near).abs() <= INTEGRAL_TOL).where(s.notna(), True).all():
                cols[c] = near
            else:
                floats[c] = [float(s.sum()), float(s.abs().sum()), int(s.isna().sum())]
            continue
        cols[c] = s.map(lambda v: None if v is None or v is pd.NA or v != v else str(v))
    canon = pd.DataFrame(cols, index=df.index)
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return {"rows": int(len(df)), "hash": int(h.sum(dtype=np.uint64)), "float_sums": floats}


def same(got: dict, want: dict) -> bool:
    """Whether two fingerprints describe the same result."""
    if (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
        return False
    if set(got["float_sums"]) != set(want["float_sums"]):
        return False
    for c, (s, mag, nulls) in want["float_sums"].items():
        g = got["float_sums"][c]
        if g[2] != nulls or abs(g[0] - s) > SUM_RTOL * max(mag, 1.0):
            return False
    return True


def _dimension_src(path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(path, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(path, "nation.parquet"))
    return path


def _generate(repo: str, out: str, sizes: dict, seed: int) -> None:
    import contextlib
    import io

    spec = importlib.util.spec_from_file_location(
        "gen_sf_replica", os.path.join(repo, "scripts", "gen_sf_replica.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.SRC = _dimension_src(out + ".dims")
    argv = sys.argv
    sys.argv = ["gen_sf_replica.py", "--out", out, "--mult", str(sizes["mult"]),
                "--doc-mult", str(sizes["doc_mult"]), "--emb-mult", str(sizes["emb_mult"]),
                "--seed", str(seed)]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen.main()
    finally:
        sys.argv = argv
        shutil.rmtree(out + ".dims", ignore_errors=True)


def _oracles(repo: str, data: str, workload: str) -> dict:
    import duckdb

    sys.path.insert(0, repo)
    from osm_coverage_spark import registry
    from osm_coverage_spark.sources import derived

    con = duckdb.connect()
    for t in derived.TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for q in ORACLE_QUERIES[workload]:
        sql = registry.ORACLE.get(q) or registry.RETIRED_ORACLE[q]
        out[q] = fingerprint(con.execute(sql).df())
    if workload == "coverage_lake":
        lat0, lat1, lon0, lon1 = BBOX
        out["bbox_read"] = fingerprint(con.execute(
            f"{derived.oracle_prelude_alkis_osm()} SELECT alkis_id, lat, lon FROM alkis "
            f"WHERE lat >= {lat0} AND lat <= {lat1} AND lon >= {lon0} AND lon <= {lon1}").df())
    con.close()
    return out


def prepare(repo: str, cache: str, workload: str, seed: int) -> dict:
    """Return the input record (path, rows, bytes, oracle fingerprints),
    generating and fingerprinting on first use of (sizes, seed)."""
    import pyarrow.parquet as pq

    sizes = SIZES[workload]
    key = f"m{sizes['mult']}_d{sizes['doc_mult']}_e{sizes['emb_mult']}_s{seed}"
    data = os.path.join(cache, key)
    meta_path = os.path.join(data, "meta.json")
    if not os.path.exists(meta_path):
        tmp = data + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        _generate(repo, tmp, sizes, seed)
        gen_s = time.perf_counter() - t0
        tables, nbytes = {}, 0
        for name in sorted(os.listdir(tmp)):
            if name.endswith(".parquet"):
                tables[name[:-8]] = pq.ParquetFile(os.path.join(tmp, name)).metadata.num_rows
                nbytes += os.path.getsize(os.path.join(tmp, name))
        meta = {"key": key, "seed": seed, "sizes": sizes, "tables": tables,
                "bytes": nbytes, "gen_s": gen_s}
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(meta_path) as f:
        meta = json.load(f)
    oracle_path = os.path.join(data, f"oracle_{workload}.json")
    if not os.path.exists(oracle_path):
        t0 = time.perf_counter()
        fps = _oracles(repo, data, workload)
        fps["oracle_s"] = time.perf_counter() - t0
        with open(oracle_path + ".tmp", "w") as f:
            json.dump(fps, f)
        os.rename(oracle_path + ".tmp", oracle_path)
    with open(oracle_path) as f:
        meta["oracle"] = json.load(f)
    meta["path"] = data
    return meta
