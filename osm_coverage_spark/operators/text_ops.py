"""Text-analysis / deduplication column-expression toolkit.

Training-data pipeline operators over a text column — all pure Catalyst
higher-order functions (transform/filter/aggregate on arrays), no UDFs:

- tokenization (whitespace + BPE-ish regex),
- word n-gram shingles (as arrays, or as rows for the MinHash queries),
- quality metrics (stopword ratio, word stats),
- marker-word language id.

Everything has a DuckDB SQL twin in queries_text.py so the driver's oracle
can verify each operator end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BPE_ISH_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is")
LANG_MARKERS = {
    "de": ("der", "die", "und", "nicht", "ist"),
    "en": ("the", "and", "of", "to", "a"),
    "fr": ("le", "la", "et", "les", "des"),
}


def words_expr(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def shingles_expr(words: Column, n: int = 3) -> Column:
    """Word n-grams as an array (null if fewer than n words).

    IMPORTANT: pass a MATERIALIZED column (``withColumn`` the words array
    first), not a nested ``words_expr(...)`` tree — each ``element_at``
    inside the lambda re-evaluates its input expression, so a nested split
    turns O(words) into O(words²) (measured 25× on sf0.1 docs)."""
    idx = F.sequence(F.lit(0), F.size(words) - n)
    joined = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(words) >= n, joined)


def stopword_count_expr(words: Column, stopwords=STOPWORDS) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*stopwords)))


def marker_count_expr(words: Column, markers) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def lang_pred_expr(words: Column) -> Column:
    c_de = marker_count_expr(words, LANG_MARKERS["de"])
    c_en = marker_count_expr(words, LANG_MARKERS["en"])
    c_fr = marker_count_expr(words, LANG_MARKERS["fr"])
    return (
        F.when((c_de > c_en) & (c_de > c_fr), F.lit("de"))
        .when(c_fr > c_en, F.lit("fr"))
        .otherwise(F.lit("en"))
    )


def shingle_rows(df: DataFrame, id_col: str, text_col: str = "text",
                 n: int = 3) -> DataFrame:
    """(id, shingle) rows via posexplode + window lead — ONE tokenization
    per document. The array-expression route (shingles_expr over a nested
    words_expr) re-splits the text per element access because Catalyst
    collapses projections, going quadratic; this is the scalable form for
    anything that consumes shingles as rows (MinHash, fingerprints)."""
    tok = df.select(
        id_col, F.posexplode(words_expr(F.col(text_col))).alias("_pos", "_w")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_w")] + [F.lead("_w", j).over(w) for j in range(1, n)]
    sh = tok.select(
        id_col,
        F.concat_ws(" ", *parts).alias("shingle"),
        F.lead("_w", n - 1).over(w).alias("_tail"),
    )
    return sh.filter(F.col("_tail").isNotNull()).drop("_tail")
