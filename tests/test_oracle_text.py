"""Driver-gate replica for the text/dedup/ANN query family."""

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from osm_coverage_spark import queries_text as qt
from osm_coverage_spark.sources import derived
from tests.oracle_utils import check_query


@pytest.mark.parametrize("name", sorted(qt.QUERIES))
def test_text_query_matches_oracle(spark, sf_dir, name):
    problems = check_query(spark, sf_dir, qt.QUERIES[name], qt.ORACLE[name])
    assert not problems, f"{name}: " + "; ".join(problems)


def test_dedup_components_invariants(spark, sf_dir):
    """Clustering semantics beyond oracle parity: both ends of every
    verified near-dup pair land in the same component, each component's
    id is its minimum member (the keeper rule), and exactly one member
    per component carries keep=1."""
    comp = qt.q_dedup_components(spark, sf_dir).toPandas()
    pairs = qt.q_dedup_jaccard(spark, sf_dir).toPandas()
    lab = comp.set_index("doc_id")["component_id"]
    assert (lab.loc[pairs.id_a].values == lab.loc[pairs.id_b].values).all()
    bycomp = comp.groupby("component_id")
    assert (bycomp.doc_id.min() == bycomp.doc_id.min().index).all()
    assert (bycomp.keep.sum() == 1).all()
    assert (bycomp.size() == bycomp.csize.first()).all()
    # non-trivial fixture: at least one multi-doc cluster exists
    assert (comp.csize > 1).any()


def test_distinct_kmv_accuracy_and_sketch_path(spark, sf_dir):
    """Beyond oracle parity (which already proves partitioning-
    independence — the oracle is computed from the UNpartitioned distinct
    set): the sketch path (k-th order statistic, not the small-set exact
    fallback) actually fires for every language, and each estimate is
    within 5 standard errors (σ ≈ 1/√(k−2)) of the true
    distinct-shingle count."""
    from osm_coverage_spark.operators import text_ops as T
    from pyspark.sql import functions as F

    est = qt.q_distinct_kmv(spark, sf_dir).toPandas().set_index("lang")
    docs = qt._docs(spark, sf_dir)
    truth = (
        docs.withColumn("w", T.words_expr(F.lower(F.col("text"))))
        .select("lang", F.explode(T.shingles_expr(F.col("w"))).alias("g"))
        .groupBy("lang")
        .agg(F.count_distinct("g").alias("n"))
        .toPandas()
        .set_index("lang")
    )
    import math

    rel_tol = 5.0 / math.sqrt(qt.KMV_K - 2)
    for lang, row in truth.iterrows():
        n, e = row["n"], est.loc[lang, "distinct_est"]
        assert n > qt.KMV_K, f"{lang}: fixture too small to exercise sketch"
        assert abs(e - n) <= rel_tol * n, f"{lang}: est={e} true={n}"


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing semantics beyond oracle parity: chunks tile each stream's
    token axis exactly — every chunk but a stream's last is PACK_L full,
    per-doc segments sum to the doc's token count, and segments within a
    chunk are disjoint and contiguous."""
    import pandas as pd

    out = qt.q_pack_sequences(spark, sf_dir).toPandas()
    assert (out.seg_tok > 0).all()
    assert ((out.pos0 >= 0) & (out.pos0 + out.seg_tok <= qt.PACK_L)).all()

    # per-doc: segments over its chunks sum to the doc's token count
    from osm_coverage_spark.operators import text_ops as T
    from osm_coverage_spark.sources import derived
    from pyspark.sql import functions as F

    derived.register_derived_views(spark, sf_dir)
    ntok = (
        spark.table("documents")
        .select("doc_id", F.size(T.words_expr(F.col("text"))).alias("ntok"))
        .toPandas()
        .set_index("doc_id")["ntok"]
    )
    per_doc = out.groupby("doc_id").seg_tok.sum()
    pd.testing.assert_series_equal(
        per_doc.sort_index(), ntok.sort_index(), check_names=False,
        check_dtype=False,
    )

    # per-stream: chunk ids are 0..max contiguous; all but the last full
    for (_, _), g in out.groupby(["lang", "shard"]):
        fill = g.groupby("chunk").seg_tok.sum().sort_index()
        assert list(fill.index) == list(range(len(fill)))
        assert (fill.iloc[:-1] == qt.PACK_L).all()
        assert fill.iloc[-1] <= qt.PACK_L

    # within a chunk: segments tile [0, fill) disjointly
    for (_, _, _), g in out.groupby(["lang", "shard", "chunk"]):
        segs = sorted(zip(g.pos0, g.pos0 + g.seg_tok))
        pos = 0
        for lo, hi in segs:
            assert lo == pos
            pos = hi


def _pack_shard(doc_id: int) -> int:
    digest = hashlib.md5(f"pack|{doc_id}".encode()).hexdigest()
    return int(digest[:4], 16) % qt.PACK_SHARDS


def test_pack_sequences_drops_zero_token_documents(spark, sf_dir, tmp_path):
    """Documents without a token occupy no chunk, on both sides. Planted in
    one stream of their own: a 64-token document, then an empty text whose
    span starts exactly on the chunk boundary (where sequence(1, 0) would
    count down into two phantom chunks), then a blank one mid-chunk."""
    data = str(tmp_path / "sf")
    shutil.copytree(sf_dir, data)
    path = os.path.join(data, "documents.parquet")
    docs = pq.read_table(path)
    ids = [i for i in range(30_000_000, 30_000_100) if _pack_shard(i) == 0][:5]
    texts = [" ".join(["w"] * qt.PACK_L), "", "x " * 10, "   ", "y z"]
    planted = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["zz"] * 5,
        "source": ["planted"] * 5,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }).cast(docs.schema)
    os.chmod(path, 0o644)
    pq.write_table(pa.concat_tables([docs, planted]), path)
    try:
        problems = check_query(spark, data, qt.q_pack_sequences, qt.ORACLE["pack_sequences"])
        assert not problems, "; ".join(problems)
        out = qt.q_pack_sequences(spark, data).toPandas()
    finally:
        derived.register_derived_views(spark, sf_dir)
    assert (out.seg_tok > 0).all()
    zz = out[out.lang == "zz"].sort_values(["doc_id", "chunk"])
    assert list(zip(zz.doc_id, zz.chunk, zz.pos0, zz.seg_tok)) == [
        (ids[0], 0, 0, qt.PACK_L), (ids[2], 1, 0, 10), (ids[4], 1, 10, 2),
    ]
