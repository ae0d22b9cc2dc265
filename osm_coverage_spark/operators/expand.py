"""Row-expansion operators (the explode family), all built-in functions.

Reference semantics (studied, not ported):

- range expansion       scripts/04_compare_optimized.py:254-308
- separator explode     scripts/04_compare_optimized.py:213-252 (Aachen rule)
- housename variants    scripts/04_compare_optimized.py:371-384
- carry-forward split   scripts/02_extract_alkis.py:45-135 (the snapshot has a
  NameError typo at 02:89 ``return resultsdefault``; we implement the
  intended ``return results`` semantics)

The reference does all of these with driver-side ``iterrows()`` loops; here
each is a single ``explode`` plan fragment that distributes and pipelines —
row expansion never materializes on one node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RANGE_RE = r"^(\d+)\s*-\s*(\d+)$"
CARRY_RE = r"^\s*([^\d].*?)\s+([0-9].*)$"


def expand_ranges(df: DataFrame, hnr_col: str = "housenumber") -> DataFrame:
    """`"7-13"` → rows 7,9,11,13 (step 2 when parities equal, else 1).

    Non-matching dash strings pass through verbatim; inverted ranges
    (start > end) expand to zero rows — both exactly as the reference's
    ``range()`` loop behaves (04:278-299).
    """
    hnr = F.col(hnr_col)
    trimmed = F.trim(hnr.cast("string"))
    start = F.regexp_extract(trimmed, RANGE_RE, 1)
    end = F.regexp_extract(trimmed, RANGE_RE, 2)
    is_range = trimmed.rlike(RANGE_RE)
    s = start.cast("long")
    e = end.cast("long")
    step = F.when(s % 2 == e % 2, F.lit(2)).otherwise(F.lit(1)).cast("long")

    parts = (
        F.when(~F.coalesce(hnr.cast("string").contains("-"), F.lit(False)), F.array(hnr))
        .when(
            is_range & (s <= e),
            F.transform(F.sequence(s, e, step), lambda x: x.cast("string")),
        )
        .when(is_range, F.array().cast("array<string>"))  # inverted → drop
        .otherwise(F.array(hnr))
    )
    return df.withColumn(hnr_col, F.explode(parts))


def expand_separators(
    df: DataFrame,
    hnr_col: str = "housenumber",
    city_col: str = "city",
    city_value: str | None = "Aachen",
) -> DataFrame:
    """Split ``5/7; 9`` style housenumbers into one row per part.

    Applies only where ``city == city_value`` (pass ``city_value=None`` to
    apply everywhere) and the housenumber contains ``[/,;]`` — the
    reference's Aachen rule (04:213-252).
    """
    hnr = F.col(hnr_col).cast("string")
    applies = F.coalesce(hnr.rlike(r"[/,;]"), F.lit(False))
    if city_value is not None:
        applies = applies & (F.col(city_col) == F.lit(city_value))
    split_parts = F.filter(
        F.transform(
            F.split(F.regexp_replace(hnr, r"[/;]", ","), ","),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    parts = F.when(applies, split_parts).otherwise(F.array(F.col(hnr_col)))
    return df.withColumn(hnr_col, F.explode(parts))


def add_housename_variants(
    df: DataFrame,
    hnr_col: str = "housenumber",
    housename_col: str = "housename",
) -> DataFrame:
    """Emit rows carrying a housename twice — once as-is and once with a
    ``"<hnr>, <housename>"`` variant — so either form can match
    (04:371-384). The housenumber is null-coerced to '' first, like 04:368.

    r6: explode form instead of ``df.unionByName(df.filter(...))`` — the
    union duplicated the ENTIRE upstream subtree (Catalyst plans each
    branch independently: one extra scan + prep chain per consumer, guide
    §2.4); the explode derives the identical row multiset from one pass.
    """
    hn = F.col(housename_col)
    hnr = F.coalesce(F.col(hnr_col).cast("string"), F.lit(""))
    variants = F.when(
        hn.isNotNull() & (hn != ""), F.array(hnr, F.concat(hnr, F.lit(", "), hn))
    ).otherwise(F.array(hnr))
    return df.withColumn(hnr_col, F.explode(variants))


def carry_forward_split(
    df: DataFrame,
    street_col: str = "street",
    hnr_col: str = "housenumber",
    extra_separators: tuple[str, ...] = (),
) -> DataFrame:
    """``("Hauptstr.", "1, 2, Nebenweg 3")`` → (Hauptstr.,1) (Hauptstr.,2)
    (Nebenweg,3): comma-separated parts inherit the most recent street token.

    The per-string statefulness ("most recent street") is a running
    ``last(..., ignoreNulls)`` window over the exploded parts — no UDF.
    Rows without ``[,;]`` (or the extra separators) pass through untouched,
    mirroring the reference's mask (02:97-110).
    """
    hnr = F.col(hnr_col).cast("string")
    norm = hnr
    for sep in extra_separators:
        norm = F.replace(norm, F.lit(sep), F.lit(","))
    norm = F.replace(norm, F.lit(";"), F.lit(","))

    sep_chars = "".join(extra_separators) + ",;"
    applies = F.coalesce(
        hnr.rlike("[" + "".join("\\" + c for c in sep_chars) + "]"), F.lit(False)
    )

    plain = df.filter(~applies)
    complex_rows = (
        df.filter(applies)
        .withColumn("_rid", F.monotonically_increasing_id())
        .select("*", F.posexplode(F.split(norm, ",")).alias("_pos", "_rawpart"))
        .withColumn("_p", F.trim(F.col("_rawpart")))
        .filter(F.col("_p") != "")
    )
    w = (
        Window.partitionBy("_rid")
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rn = F.row_number().over(Window.partitionBy("_rid").orderBy("_pos"))
    complex_rows = complex_rows.withColumn("_rn", rn)
    cand = F.when(
        (F.col("_rn") > 1) & (F.regexp_extract("_p", CARRY_RE, 1) != ""),
        F.regexp_extract("_p", CARRY_RE, 1),
    )
    complex_rows = (
        complex_rows.withColumn("_cand", cand)
        .withColumn(
            "_carried", F.coalesce(F.last("_cand", ignorenulls=True).over(w), F.col(street_col))
        )
        .withColumn(
            "_hnr_out",
            F.when(F.col("_cand").isNotNull(), F.regexp_extract("_p", CARRY_RE, 2)).otherwise(
                F.col("_p")
            ),
        )
        .withColumn(street_col, F.col("_carried"))
        .withColumn(hnr_col, F.col("_hnr_out"))
        .drop("_rid", "_pos", "_rawpart", "_p", "_rn", "_cand", "_carried", "_hnr_out")
    )
    return plain.unionByName(complex_rows.select(*plain.columns))
