"""Physical-plan assertions: the plans we designed for are the plans Spark
runs (pushdown, broadcast, hash join on (key, cell), codegen, no cartesian),
plus skew-salting result equality."""

from pyspark.sql import functions as F

from osm_coverage_spark import queries_coverage, queries_tpch
from osm_coverage_spark.geo import cells
from osm_coverage_spark.operators import coverage, skew
from osm_coverage_spark.sources import derived, fixtures


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_and_column_pushdown(spark, sf_dir):
    derived.load_testdata(spark, sf_dir)
    df = spark.table("lineitem").filter(F.col("l_quantity") < 5).select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "LessThan(l_quantity" in plan
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_flagship_is_single_aggregated_left_join(spark, sf_dir):
    df = queries_coverage.q_coverage_missing(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    # r6 aggregated-build shape: the stencil-exploded OSM side collapses to
    # one row per (key, cell) via collect_list, and the full ALKIS rows LEFT
    # join it exactly ONCE (found_in_osm = exists() over the candidate
    # array) — no probe pass, no distinct, no flag join-back
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    n_joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    )
    assert n_joins == 1, plan
    assert "LeftOuter" in plan
    assert "_onbr" in plan  # ring-expanded cell key participates in the join
    assert "collect_list" in plan  # aggregated build side
    # each side's prep chain runs once: one orders scan per side
    assert plan.count("orders.parquet") == 2, plan


def test_export_with_corrections_plans_the_join_once(spark, sf_dir):
    """The export is one filter over ``flagged``: with corrections applied
    (so the corrected set cannot fold to empty) the match join and each
    side's orders scan appear once, not once per union branch."""
    derived.register_derived_views(spark, sf_dir)
    out = coverage.coverage_pipeline(
        spark.table("alkis"), spark.table("osm"), corrections=fixtures.CORRECTIONS
    )
    plan = _plan(out["export"])
    joins = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    assert sum(plan.count(j) for j in joins) == 1, plan
    assert plan.count("orders.parquet") == 2, plan


def _count_dataframes(monkeypatch) -> list:
    """Record every DataFrame the driver creates. Classic PySpark's
    ``DataFrame.__new__`` calls ``__init__`` and Python calls it once more,
    so frames are told apart by identity (the list keeps them alive, so no
    id is reused)."""
    from pyspark.sql.classic.dataframe import DataFrame

    made = []
    init = DataFrame.__init__

    def recording(self, *args, **kwargs):
        made.append(self)
        init(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "__init__", recording)
    return made


def _spy(monkeypatch, name: str) -> list[int]:
    calls = [0]
    fn = getattr(coverage, name)

    def spy(*args, **kwargs):
        calls[0] += 1
        return fn(*args, **kwargs)

    monkeypatch.setattr(coverage, name, spy)
    return calls


def test_export_builds_few_dataframes_and_nothing_unread(spark, sf_dir, monkeypatch):
    """Each coverage operator is one projection, and only what the export
    reads is built (15 DataFrames)."""
    derived.register_derived_views(spark, sf_dir)
    alkis, osm = spark.table("alkis"), spark.table("osm")
    unread = {k: _spy(monkeypatch, k)
              for k in ("district_stats", "global_stats", "rollup_stats", "missing_rows")}
    made = _count_dataframes(monkeypatch)
    out = coverage.coverage_pipeline(alkis, osm)
    assert not made  # nothing is built before an output is read
    export = out["export"]
    assert 0 < len({id(df) for df in made}) <= 16
    assert export.columns == list(coverage.EXPORT_COLS)
    assert all(c == [0] for c in unread.values()), unread
    assert sorted(out) == sorted([
        "alkis_prepared", "osm_prepared", "flagged", "missing",
        "district_stats", "global_stats", "rollup_stats", "export",
    ])


def test_pipeline_outputs_share_one_flagged(spark, sf_dir, monkeypatch):
    derived.register_derived_views(spark, sf_dir)
    flag = _spy(monkeypatch, "flag_found")
    out = coverage.coverage_pipeline(spark.table("alkis"), spark.table("osm"))
    missing, stats = out["missing"], out["district_stats"]
    assert out["missing"] is missing and out["district_stats"] is stats
    assert flag == [1]


def test_tpch_fact_tables_not_hint_broadcast(spark, sf_dir):
    """Broadcast of fact-scale tables must come only from AQE's runtime size
    decision, never a hard-coded hint (a hint OOMs at 100× SF). With the
    auto-broadcast thresholds disabled, any BroadcastExchange left in the
    plan is hint-forced — q3/top_customers must have none, q5 exactly its
    two constant-size dims (region→nation, nation→customer)."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        assert "BroadcastExchange" not in _plan(queries_tpch.q_tpch_q3(spark, sf_dir))
        assert "BroadcastExchange" not in _plan(
            queries_tpch.q_top_customers(spark, sf_dir)
        )
        q5 = _plan(queries_tpch.q_tpch_q5(spark, sf_dir))
        assert q5.count("BroadcastExchange") == 2, q5
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wholestage_codegen_covers_normalize_chain(spark, sf_dir):
    df = queries_coverage.q_normalize_key(spark, sf_dir)
    df.collect()  # AQE reveals codegen stages only in THIS plan's final form
    # Spark 4 marks whole-stage-codegen spans as '*(n)' in the simple plan
    assert "*(1)" in _plan(df)


def test_banded_self_pairs_hot_bucket_guard(spark):
    """Planted degenerate band bucket (200 rows sharing one band value):
    results identical to the naive all-pairs join, but the hot bucket is
    block-split so no single task owns the S² pair generation."""
    rows = [(f"d{i:04d}", 1, "HOT") for i in range(200)]
    rows += [(f"e{i:02d}", 1, f"c{i % 5}") for i in range(20)]
    df = spark.createDataFrame(rows, "id string, band_no int, band_val string")

    pairs = skew.banded_self_pairs(
        df, ["band_no", "band_val"], "id", hot_threshold=64, target_block=16
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    by_band = {}
    for i, _, b in rows:
        by_band.setdefault(b, []).append(i)
    expect = {
        (a, c)
        for ids in by_band.values()
        for a in ids
        for c in ids
        if a < c
    }
    assert got == expect

    # block-splitting evidence: the hot bucket's right side spreads over
    # ceil(200/16)=13 hash blocks; the largest (band, block) task then
    # pairs 200 left rows against <= max_block rows instead of 200×200
    n_blk = -(-200 // 16)
    blocks = (
        df.filter(F.col("band_val") == "HOT")
        .groupBy(F.pmod(F.xxhash64("id"), F.lit(n_blk)).alias("blk"))
        .count()
        .collect()
    )
    max_block = max(r["count"] for r in blocks)
    assert len(blocks) > 1 and max_block < 60  # ~15 avg, hash-balanced
    assert 200 * max_block < 200 * 199 / 2  # per-task pairs ≪ unguarded S²


def test_minhash_signature_exchange_reused_not_persisted(spark, sf_dir):
    """The band table feeds four join sides; the expensive shingle+md5
    signature chain must be computed once via exchange reuse (the old
    persist() leaked cached blocks across long-lived sessions)."""
    from osm_coverage_spark import queries_text

    df = queries_text.q_dedup_minhash_lsh(spark, sf_dir)
    df.collect()  # AQE finalizes reuse decisions in this plan's final form
    assert "ReusedExchange" in _plan(df)


def test_salted_counts_equal_direct_groupby(spark, sf_dir):
    derived.register_derived_views(spark, sf_dir)
    img = spark.table("images").withColumn(
        "cell", cells.cell_expr(F.col("lat"), F.col("lon"), 12)
    )
    direct = {
        r["cell"]: r["n"]
        for r in img.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["cell"]: r["n_rows"]
        for r in skew.salted_cell_counts(img, "cell", "image_id").collect()
    }
    assert direct == salted


def test_hot_cell_detection_finds_planted_hotspot(spark, sf_dir):
    derived.register_derived_views(spark, sf_dir)
    img = spark.table("images").withColumn(
        "cell", cells.cell_expr(F.col("lat"), F.col("lon"), 12)
    )
    hot = skew.find_hot_cells(img, "cell", hot_fraction=0.05).collect()
    assert len(hot) >= 1  # the planted ~20% urban blob
    total = img.count()
    assert max(r["cell_rows"] for r in hot) > total * 0.15


def _planted_hot_frames(spark):
    """Urban-blob fixtures: 75 % of ALKIS rows share ONE (key, lat, lon)
    triple; OSM is cold."""
    from osm_coverage_spark.operators import coverage

    pid = F.col("id")
    hot = pid % 4 != 0
    filler = F.repeat(F.concat(F.lit("x"), (pid % 97).cast("string")), 40)
    alkis = spark.range(0, 60_000, 1, 16).select(
        F.when(hot, F.lit("Hauptstraße")).otherwise(
            F.concat(F.lit("Weg "), (pid % 5000).cast("string"))
        ).alias("street"),
        F.when(hot, F.lit("1")).otherwise(
            (pid % 90 + 1).cast("string")
        ).alias("housenumber"),
        F.when(hot, F.lit(50.93)).otherwise(
            F.lit(50.0) + (pid % 1000).cast("double") * 1e-4
        ).alias("lat"),
        F.when(hot, F.lit(6.95)).otherwise(
            F.lit(6.0) + (pid % 1000).cast("double") * 1e-4
        ).alias("lon"),
        filler.alias("wide_payload"),
    )
    alkis = alkis.withColumn(
        "key",
        coverage.normalize_key_expr(F.col("street"), F.col("housenumber")),
    )
    osm = spark.range(0, 2_000, 1, 4).select(
        F.concat(F.lit("Weg "), (pid % 5000).cast("string")).alias("street"),
        (pid % 90 + 1).cast("string").alias("housenumber"),
        (F.lit(50.0) + (pid % 1000).cast("double") * 1e-4).alias("lat"),
        (F.lit(6.0) + (pid % 1000).cast("double") * 1e-4).alias("lon"),
    )
    osm = osm.withColumn(
        "key",
        coverage.normalize_key_expr(F.col("street"), F.col("housenumber")),
    )
    return alkis, osm


_SKEW_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # keep the small shuffle from being coalesced into one partition
    # (a single post-coalesce partition cannot be 'skewed')
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def test_flag_found_hot_key_correct_and_bounded(spark):
    """r6 flag_found shape under the planted hot key (75 % of rows in one
    (key, lat, lon) triple): results must equal the cell-free reference
    formulation, and the aggregated OSM build side must stay bounded per
    (key, cell) — the hot-key quadratic pairing the old join-back skew
    split guarded against cannot arise because the candidate arrays are
    keyed by (key, geocell), never by key alone (the former AQE-skew-split
    assertion died with the join-back: the r6 plan's only join has an
    aggregate build side, which OptimizeSkewedJoin cannot match — see
    OPTIMIZATION_r06.md for the measured trade-off)."""
    from osm_coverage_spark.operators import coverage

    alkis, osm = _planted_hot_frames(spark)
    got = coverage.flag_found(alkis, osm)
    ref = coverage.flag_found(alkis, osm, use_cells=False)
    cols = ["street", "housenumber", "lat", "lon", "found_in_osm"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, ref.select(cols).collect())
    )
    n_hot = got.filter(F.col("key") == "hauptstrasse1").count()
    assert n_hot == 45_000  # multiplicity preserved through the left join


def test_aqe_skew_split_fires_on_raw_shuffle_join(spark):
    """The engine session must still deliver AQE skew-splitting wherever a
    raw shuffle join exists (tpch q3's fact join, the interval hash path):
    planted 75 %-hot stream side on a plain left join → 'skew=true' in the
    executed adaptive plan."""
    saved = {k: spark.conf.get(k, None) for k in _SKEW_CONF}
    try:
        for k, v in _SKEW_CONF.items():
            spark.conf.set(k, v)
        pid = F.col("id")
        big = spark.range(0, 60_000, 1, 16).select(
            F.when(pid % 4 != 0, F.lit(7)).otherwise(pid % 5000).alias("k"),
            F.repeat(F.concat(F.lit("x"), (pid % 97).cast("string")), 40).alias(
                "payload"
            ),
        )
        small = spark.range(0, 2_000, 1, 4).select(
            (pid % 5000).alias("k2"), (pid % 9).alias("v")
        )
        joined = big.join(small, big["k"] == small["k2"], "left")
        joined.collect()
        plan = _plan(joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ann_ivf_assignment_is_map_side(spark, sf_dir):
    """The r3 verdict's one scale anti-pattern: centroid assignment used
    crossJoin+window, shuffling the |V|×|C| expansion. Now every vector
    picks its nearest / top-nprobe centroids in ONE projection over the
    broadcast single-row centroid array — between the embeddings scan and
    the (id, cid) assignment there must be NO shuffle exchange."""
    from pyspark.sql import functions as F

    from osm_coverage_spark.operators import ann

    derived.load_testdata(spark, sf_dir)
    emb = spark.table("embeddings")
    emb_int = emb.select("vec_id", ann.to_fixed(F.col("embedding")).alias("xi"))
    init = emb_int.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("cid"), F.col("xi").alias("c")
    )
    assigned = ann.assign(emb_int, ann.centroid_row(init), "vec_id", "xi")
    plan = _plan(assigned)
    # the only exchanges allowed are broadcast (the 1-row centroid array
    # and whatever builds it) — no hash/range repartition of the vectors
    import re

    shuffles = re.findall(r"Exchange (hashpartitioning|rangepartitioning)[^\n]*", plan)
    assert not shuffles, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_dedup_jaccard_single_shingle_scan(spark, sf_dir):
    """r3 verdict #4: jaccard used to tokenize+shingle twice. The combined
    per-doc aggregate (minhashes + exact set in one groupBy) must leave at
    most ONE live scan of `documents` in the executed plan — every other
    consumer must hang off a ReusedExchange."""
    from osm_coverage_spark import queries_text as qt

    df = qt.q_dedup_jaccard(spark, sf_dir)
    df.collect()  # AQE finalizes only the executed DataFrame object
    plan = _plan(df)
    n_scans = plan.count("documents.parquet")
    n_reused = plan.count("ReusedExchange")
    assert n_scans <= 1 or n_reused >= 2, (
        f"scans={n_scans} reused={n_reused}\n" + plan
    )


def test_tile_pyramid_single_base_scan(spark, sf_dir):
    """The pyramid must scan + shuffle the base table exactly once: every
    coarser zoom level re-aggregates the previous LEVEL's output via
    cell-id arithmetic, never re-reading the source. One live scan of
    `documents` (the images view's base) in the executed plan proves the
    cascade shape — at 100 TB the three rollup levels cost a shuffle over
    the already-64×-smaller aggregate, not three more table scans."""
    from osm_coverage_spark import queries_graft as qg

    df = qg.q_tile_pyramid(spark, sf_dir)
    df.collect()  # AQE finalizes only the executed DataFrame object
    # toString appends the pre-AQE "Initial Plan" — count the final only
    plan = _plan(df).split("Initial Plan")[0]
    # r6: the images view derives the '_b' twins by explode from ONE scan
    # (sources/derived.images_spark_cte), so one pass over the source =
    # exactly 1 FileScan; the naive per-level union plan showed
    # 2×(1+2+3+4) scan instances
    n_scans = plan.count("documents.parquet")
    assert n_scans == 1, f"scans={n_scans}\n" + plan
    # and the rollup side re-aggregates the aggregate: exactly two
    # exchanges total (base cell shuffle + tiny (res, cell) shuffle)
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_mix_sample_salted_equals_direct_window(spark, sf_dir):
    """The two-pass salted top-quota (bounded per-task sort) must produce
    exactly the naive single-window result, ranks included."""
    from pyspark.sql import Window

    from osm_coverage_spark import queries_text as qt

    got = sorted(map(tuple, qt.q_mix_sample(spark, sf_dir).collect()))
    docs = spark.table("documents")
    key = qt._mix_rank_key()
    quota = None
    for lang, q in qt.MIX_QUOTAS.items():
        quota = (F.when(F.col("lang") == lang, F.lit(q)) if quota is None
                 else quota.when(F.col("lang") == lang, F.lit(q)))
    quota = quota.otherwise(F.lit(0))
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    direct = sorted(map(tuple, (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= quota)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))
    ).collect()))
    assert got == direct and len(got) > 0


def test_mix_sample_widest_sort_is_salted(spark, sf_dir):
    """Plan shape: the first (full-data) window must partition by
    (lang, salt) — no task ever sorts a whole stratum; the lang-only
    window runs only on the quota-bounded survivors."""
    from osm_coverage_spark import queries_text as qt

    df = qt.q_mix_sample(spark, sf_dir)
    plan = _plan(df)
    # both window shapes present: salted first pass, lang-only second
    assert "_salt" in plan
    assert plan.count("Window") >= 2


def test_dedup_substring_no_all_pairs(spark, sf_dir):
    """The winnowing consumer must pair docs only through the banded
    self-join (equi-join on gram_hash + block id) — never a cartesian /
    nested-loop expansion, with the hot-bucket block-split branch present."""
    from osm_coverage_spark import queries_text as qt

    df = qt.q_dedup_substring(spark, sf_dir)
    df.collect()  # AQE finalizes only the executed DataFrame object
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_blk" in plan  # hot-bucket block-split branch is live


def test_pip_rings_cache_bounded_lru(spark):
    """Cycling through many distinct polygon plans must keep at most
    _RINGS_CACHE_MAX live ring broadcasts (eviction unpersists) — the
    r4 unbounded-growth finding."""
    from osm_coverage_spark.geo import pip

    pip._RINGS_CACHE.clear()
    ring_schema = "name string, ring array<struct<lon double, lat double>>"
    first = None
    for i in range(pip._RINGS_CACHE_MAX + 4):
        polys = spark.createDataFrame(
            [(f"z{i}", [{"lon": float(i), "lat": 0.0},
                        {"lon": float(i) + 1.0, "lat": 0.0},
                        {"lon": float(i) + 1.0, "lat": 1.0},
                        {"lon": float(i), "lat": 1.0}])],
            ring_schema,
        )
        bc = pip._rings_broadcast(spark, polys, "name")
        if first is None:
            first = bc
    assert len(pip._RINGS_CACHE) == pip._RINGS_CACHE_MAX
    # the oldest entry was evicted AND unpersisted (value access fails or
    # re-request builds a fresh broadcast object)
    polys0 = spark.createDataFrame(
        [("z0", [{"lon": 0.0, "lat": 0.0}, {"lon": 1.0, "lat": 0.0},
                 {"lon": 1.0, "lat": 1.0}, {"lon": 0.0, "lat": 1.0}])],
        ring_schema,
    )
    again = pip._rings_broadcast(spark, polys0, "name")
    assert again is not first


def test_sessionize_single_shuffle(spark, sf_dir):
    """Gaps-and-islands must cost ONE exchange: the windows hash-partition
    on user_id and the closing groupBy(user_id, session_idx) reuses it
    (HashPartitioning(user_id) satisfies the grouping's
    ClusteredDistribution)."""
    import re

    from osm_coverage_spark import queries_events as qe

    df = qe.q_events_sessionize(spark, sf_dir)
    df.collect()  # AQE finalizes only the executed DataFrame object
    # toString() of an AQE plan prints Final AND Initial sections — count
    # exchanges only in the final one
    plan = _plan(df).split("== Initial Plan ==")[0]
    shuffles = re.findall(r"Exchange (hashpartitioning|rangepartitioning)", plan)
    assert len(shuffles) == 1, plan


def test_range_join_is_broadcast_stencil(spark, sf_dir):
    """The interval join must be a broadcast equi-join on the time cell —
    never a BroadcastNestedLoop θ-join (the plan that dies at 100 TB)."""
    from osm_coverage_spark import queries_events as qe

    df = qe.q_events_range_join(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_interval_join_hash_path_without_broadcast(spark, sf_dir):
    """The 100 TB degradation path: with a fact-sized interval table (no
    broadcast hint, auto-broadcast off) the stencil join must become a
    shuffled equi-join on the time cell — still never a NestedLoop."""
    from pyspark.sql import functions as F

    from osm_coverage_spark import queries_events as qe
    from osm_coverage_spark.operators.intervals import interval_join

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ev = qe._events_us(spark, sf_dir)
        iv = qe._intervals(spark)
        hits = interval_join(
            ev, iv, len_us=qe.IV_LEN_US, cell_us=qe.CELL_US,
            hint_broadcast=False,
        ).groupBy("interval_id").agg(F.count(F.lit(1)).alias("n"))
        hits.collect()
        plan = _plan(hits).split("== Initial Plan ==")[0]
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan), plan
        # same answer as the broadcast path
        want = {
            (r["interval_id"], r["severity"], r["n_events"], r["sum_value_e2"])
            for r in qe.q_events_range_join(spark, sf_dir).collect()
        }
        got = {r["interval_id"]: r["n"] for r in hits.collect()}
        assert got == {k[0]: k[2] for k in want}
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The as-of join's whole point vs a theta-join: union-and-window costs
    ONE exchange (hash on user_id) — no range join, no per-user blowup."""
    import re

    from osm_coverage_spark import queries_coverage as qc

    df = qc.q_events_asof(spark, sf_dir)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    shuffles = re.findall(r"Exchange (hashpartitioning|rangepartitioning)", plan)
    assert len(shuffles) == 1, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_decontaminate_eval_side_is_broadcast(spark, sf_dir):
    """The eval/benchmark probe must broadcast (dimension-sized by
    construction) — the train corpus is shuffled once for the df window
    and never again for the join."""
    from osm_coverage_spark import queries_text as qt

    df = qt.q_decontaminate(spark, sf_dir)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_funnel_is_single_scan_single_shuffle(spark, sf_dir):
    """The chained-window funnel must cost ONE exchange and ONE scan of
    the events table — the naive aggregate/join-back/re-aggregate shape
    (the oracle's plan) scans it three times."""
    import re

    from osm_coverage_spark import queries_events as qe

    df = qe.q_events_funnel(spark, sf_dir)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    shuffles = re.findall(r"Exchange (hashpartitioning|rangepartitioning)", plan)
    assert len(shuffles) == 1, plan
    assert plan.count("events.parquet") <= 1, plan


def test_knn_dominance_cut_exact_under_duplicate_positions(spark):
    """r6 knn pre-cut: with MANY duplicate-position targets (the blob
    degenerate case) results must equal the brute-force ring-bounded kNN,
    including the case where the query itself sits among the k+1
    id-smallest duplicates at its position."""
    import math

    from osm_coverage_spark.geo.cells import cell_py
    from osm_coverage_spark.operators.knn import knn_join

    res, k = 14, 3
    # 12 targets at ONE exact position (ids t00..t11), queries q* at the
    # same position and nearby; q_at is ALSO a target at that position
    pos = (50.5, 6.5)
    rows = [(f"t{i:02d}", pos[0], pos[1]) for i in range(12)]
    rows += [("q_at", pos[0], pos[1]), ("q_near", pos[0] + 1e-4, pos[1])]
    targets = spark.createDataFrame(rows, "image_id string, lat double, lon double")
    queries = targets.filter(F.col("image_id").startswith("q"))
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_join(queries, targets, id_col="image_id",
                          k_neighbors=k, res=res).collect()
    }

    def hav_mm(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[0], a[1], b[0], b[1]))
        h = (math.sin((la2 - la1) / 2) ** 2
             + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2)
        return round(1.2742e7 * math.asin(math.sqrt(h)), 3)

    ring = lambda c: {c + dx * 2**25 + dy for dx in (-1, 0, 1) for dy in (-1, 0, 1)}  # noqa: E731
    by_id = {r[0]: (r[1], r[2]) for r in rows}
    for qid in ("q_at", "q_near"):
        qp = by_id[qid]
        cand = [
            (hav_mm(qp, p), tid)
            for tid, p in by_id.items()
            if tid != qid and cell_py(p[0], p[1], res) in ring(cell_py(qp[0], qp[1], res))
        ]
        for rank, (_, tid) in enumerate(sorted(cand)[:k], start=1):
            assert got[(qid, rank)] == tid, (qid, rank, got)


def test_retention_no_user_broadcast_two_exchanges(spark, sf_dir):
    """r5 verdict #1 done-criterion: events_retention must not broadcast
    any per-USER table (unbounded at scale) and must cost at most two
    hash exchanges (user_id aggregation + final cohort count)."""
    import re

    from osm_coverage_spark import queries_events as qe

    df = qe.q_events_retention(spark, sf_dir)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastExchange" not in plan, plan
    shuffles = re.findall(r"Exchange (hashpartitioning|rangepartitioning)", plan)
    assert len(shuffles) <= 2, plan


def test_dot_fast_equals_interpreted_fold(spark):
    """r6 ann scorer: the unrolled codegen dot product must be
    bit-identical to the zip_with+aggregate fold — on the expected
    64-dim arrays, on other lengths (fallback path), and under NULLs."""
    import random

    from osm_coverage_spark.queries_text import EMB_DIM, _dot, _dot_fast

    rng = random.Random(7)
    rows = []
    for n in (EMB_DIM, EMB_DIM, 8, 65):
        rows.append((
            [rng.uniform(-2, 2) for _ in range(n)],
            [rng.uniform(-2, 2) for _ in range(n)],
        ))
    rows.append(([None] + [1.0] * (EMB_DIM - 1), [1.0] * EMB_DIM))
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    out = df.select(
        _dot_fast(F.col("a"), F.col("b")).alias("fast"),
        _dot(F.col("a").cast("array<double>"), F.col("b").cast("array<double>")).alias("ref"),
    ).collect()
    for r in out:
        assert (r["fast"] is None) == (r["ref"] is None)
        if r["fast"] is not None:
            assert r["fast"] == r["ref"], (r["fast"], r["ref"])


def test_pip_fallback_single_points_pass(spark, sf_dir):
    """r6 session 3: the fallback assembly is a groupBy over the ray-cast
    output, not a second derivation of the points table — the images
    parquet must be scanned exactly once, and no join may follow the
    Python stage."""
    from osm_coverage_spark import queries_images

    df = queries_images.q_pip_zones(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("documents.parquet") == 1, plan
    after_python = plan.split("MapInPandas")[0]  # tree prints top-down:
    # everything ABOVE the Python stage is the final assembly
    assert "Join" not in after_python, plan
    # max(zone) is a string agg → SortAggregate (no fixed-width buffer)
    assert "Aggregate" in after_python, plan


def test_tfidf_shares_one_doc_exchange(spark, sf_dir):
    """r6 session 3: hashing tokens by doc_id serves both the (doc_id,
    term) aggregation and the per-doc top-k window — exactly one exchange
    may carry doc_id, and the window must add none of its own."""
    from osm_coverage_spark import queries_text

    df = queries_text.q_doc_tfidf(spark, sf_dir)
    plan = _plan(df)
    import re

    # The explicit REPARTITION_BY_COL subtree prints twice (tf and the
    # df-side lineage re-derived from it — identical, so AQE's stage
    # cache reuses one shuffle at runtime); the claim is that the WINDOW
    # itself adds no exchange of its own.
    ensure = [
        ln for ln in plan.splitlines()
        if re.search(r"Exchange hashpartitioning\(doc_id", ln)
        and "ENSURE_REQUIREMENTS" in ln
    ]
    assert not ensure, plan
    assert "Window" in plan, plan


def test_winnow_kernel_is_map_side(spark, sf_dir):
    """r6 session 3: the Arrow winnowing kernel computes the sketch inside
    the scan stage — the old per-gram explode + per-doc window paid a full
    shuffle+sort of the gram table; the kernel plan must have NO exchange
    at all."""
    from osm_coverage_spark import queries_text

    derived.load_testdata(spark, sf_dir)
    df = queries_text.winnow(spark.table("documents"))
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_dedup_rows_single_scan(spark, sf_dir):
    """r6 session 3: the three counts are one aggregation pass — one scan
    of the orders parquet behind the osm view, no join."""
    from osm_coverage_spark import queries_misc

    df = queries_misc.q_dedup_rows(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("orders.parquet") == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
