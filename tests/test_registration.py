"""View registration happens once per Spark session and input.

``register_derived_views`` / ``load_testdata`` are called by every query
builder; a repeat call with the same session and unchanged input must run
no Spark job, while a changed input, a dropped view or a new session must
register again.
"""

import hashlib
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
import pytest

from osm_coverage_spark.sources import derived


def _jobs_during(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` started on this thread."""
    sc = spark.sparkContext
    group, barrier = f"reg-{uuid.uuid4().hex}", f"reg-barrier-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "registration test")
    try:
        fn()
    finally:
        # The status tracker learns of jobs asynchronously, in order: once a
        # later job is visible, every job fn() started is too.
        sc.setJobGroup(barrier, "registration test barrier")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(barrier):
        assert time.monotonic() < deadline, "barrier job never reported"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


def _expected_counts(sf_dir: str) -> tuple[int, int]:
    """(alkis rows, images rows) read from the parquet files directly:
    one alkis row per order; one image per document plus a near-dup twin
    for every doc_id % 7 == 0."""
    orders = pq.read_metadata(os.path.join(sf_dir, "orders.parquet")).num_rows
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"])
    doc_ids = docs["doc_id"].to_pylist()
    return orders, len(doc_ids) + sum(1 for d in doc_ids if d % 7 == 0)


def test_alkis_base_cte_is_the_oracle_text():
    """The oracle's ALKIS_BASE_CTE is the builder's default text, byte for
    byte as it was when the Spark view still rewrote it by string
    replacement."""
    assert derived.ALKIS_BASE_CTE == derived.alkis_base_cte()
    assert hashlib.sha256(derived.alkis_base_cte().encode()).hexdigest() == (
        "e7888b1b081d3256456d907b870ac88b45372b1f808ba4415c9bbd2a062cc6ee"
    )
    assert derived.alkis_base_cte("orders_resplit") == derived.ALKIS_BASE_CTE.replace(
        "FROM orders", "FROM orders_resplit"
    )


def test_repeat_registration_runs_no_spark_job(spark, sf_dir):
    derived.register_derived_views(spark, sf_dir)
    assert _jobs_during(spark, lambda: derived.register_derived_views(spark, sf_dir)) == []
    assert _jobs_during(spark, lambda: derived.load_testdata(spark, sf_dir)) == []
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_unstattable_input_registers_every_call(spark, sf_dir):
    """A path os.stat cannot see (a URI) is never cached."""
    uri = "file://" + os.path.abspath(sf_dir)
    derived.register_derived_views(spark, uri)
    assert _jobs_during(spark, lambda: derived.register_derived_views(spark, uri))
    derived.register_derived_views(spark, sf_dir)


def test_switching_scale_factors_sees_each_input(spark, sf_dir):
    sf01 = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 test data absent")
    for d in (sf_dir, sf01, sf_dir):
        derived.register_derived_views(spark, d)
        got = (spark.table("alkis").count(), spark.table("images").count())
        assert got == _expected_counts(d), d


def test_rewritten_table_is_read_again(spark, sf_dir, tmp_path):
    data = str(tmp_path / "sf")
    shutil.copytree(sf_dir, data)
    derived.register_derived_views(spark, data)
    docs = os.path.join(data, "documents.parquet")
    table = pq.read_table(docs)
    assert spark.table("documents").count() == table.num_rows
    os.chmod(docs, 0o644)
    pq.write_table(table.slice(0, table.num_rows // 2), docs)
    derived.register_derived_views(spark, data)
    assert spark.table("documents").count() == table.num_rows // 2
    assert spark.table("images").count() == _expected_counts(data)[1]
    derived.register_derived_views(spark, sf_dir)


def test_dropped_view_is_registered_again(spark, sf_dir):
    derived.register_derived_views(spark, sf_dir)
    spark.catalog.dropTempView("alkis")
    assert not spark.catalog.tableExists("alkis")
    derived.register_derived_views(spark, sf_dir)
    assert spark.catalog.tableExists("alkis")


def test_new_session_registers_its_own_views(spark, sf_dir):
    derived.register_derived_views(spark, sf_dir)
    other = spark.newSession()
    assert not other.catalog.tableExists("alkis")
    derived.register_derived_views(other, sf_dir)
    assert all(other.catalog.tableExists(v)
               for v in derived.TESTDATA_TABLES + derived.DERIVED_VIEWS)
