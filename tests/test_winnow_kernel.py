"""The Arrow winnowing kernel must be row-set-identical to the SQL-window
form the DuckDB oracle states (queries_text.ORACLE["doc_winnowing"], built
on ``_winnow_sketch_cte``), and ``winnow_hashes`` must be the distinct
(doc_id, gram_hash) projection of ``winnow``."""

import duckdb
import pandas as pd

from osm_coverage_spark import queries_text as qt
from osm_coverage_spark.sources import derived
from tests.oracle_utils import duckdb_conn

# Planted edges: shorter than K, exactly K, K..K+W-1 (suffix-min tail
# only), non-ASCII codepoints (ascii() == ord()), repeated grams (the
# DISTINCT), an empty string, and a multi-window sentence.
EDGE_DOCS = pd.DataFrame({
    "doc_id": pd.Series([1, 2, 3, 4, 5, 6, 7], dtype="int64"),
    "text": [
        "ab",                       # < K: no grams
        "12345678",                 # == K: one gram
        "123456789",                # K < len < K+W: tail windows only
        "Große Straße im Übermaß",  # non-ASCII codepoints
        "aaaaaaaaaaaaaaaaaaaa",     # repeated grams → DISTINCT
        "",                         # empty
        "the quick brown fox jumps over the lazy dog " * 3,
    ],
})


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _oracle_rows(con):
    return sorted(
        (int(d), int(p), int(h))
        for d, p, h in con.execute(qt.ORACLE["doc_winnowing"]).fetchall()
    )


def _edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def test_kernel_equals_window_on_edge_docs(spark):
    con = duckdb.connect()
    con.register("documents", EDGE_DOCS)
    assert _rows(qt.winnow(_edge_docs(spark))) == _oracle_rows(con)


def test_kernel_equals_window_on_fixture_corpus(spark, sf_dir):
    derived.load_testdata(spark, sf_dir)
    docs = spark.table("documents")
    assert _rows(qt.winnow(docs)) == _oracle_rows(duckdb_conn(sf_dir))


def test_winnow_hashes_is_distinct_sketch_hashes(spark, sf_dir):
    """The pair consumers' sketch: one row per distinct (doc_id,
    gram_hash) of the positional sketch, with no duplicates (doc_ids are
    unique in both inputs)."""
    derived.load_testdata(spark, sf_dir)
    for docs in (_edge_docs(spark), spark.table("documents")):
        got = _rows(qt.winnow_hashes(docs))
        want = sorted({(d, h) for d, _p, h in _rows(qt.winnow(docs))})
        assert got == want
