"""Address-key normalization as pure Catalyst column expressions.

Semantics match the reference's load-bearing key function
(``scripts/04_compare_optimized.py:13-34``): lowercase, strip
parenthesised spans, then an ORDER-SENSITIVE chain of literal substring
replacements (plain substring semantics, NOT word-boundary — e.g. the bare
``"dr" -> "doktor"`` rewrite deliberately fires mid-word, bugs-and-all),
then strip `` -./,``. House numbers: lowercase, strip space+comma.

One ordered replacement table drives three consistent implementations:

- :func:`normalize_street_expr` / :func:`normalize_key_expr` — Spark Column
  expressions (JVM-side, whole-stage codegen; zero UDFs),
- :func:`normalize_key_py` — plain-Python golden oracle for unit tests,
- :func:`normalize_street_sql` / :func:`normalize_key_sql` — DuckDB SQL text
  for the driver's oracle comparison.

Also here: the auxiliary string cleaners from the extraction stage
(``scripts/02_extract_alkis.py:25-30,137-158``) and the deterministic
row id (``scripts/02_extract_alkis.py:32-42``).
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Ordered literal substring replacements applied to the lowercased street
# after parenthesised spans are removed. Order is load-bearing: each rewrite
# sees the output of the previous one (reference 04_compare_optimized.py:16-30).
STREET_REPLACEMENTS: tuple[tuple[str, str], ...] = (
    ("ß", "ss"),
    ("v.", "von"),
    ("bgm.", "bürgermeister"),
    ("bgm", "bürgermeister"),
    ("bürgerm.", "bürgermeister"),
    ("dr.", "doktor"),
    ("dr", "doktor"),
    ("pl.", "platz"),
    ("st.", "sankt"),
    ("prof.", "professor"),
    ("geschw.", "geschwister"),
    ("str.", "strasse"),
    ("str ", "strasse "),
    ("bauerschaft", ""),
    ("gerhard-hauptmann", "gerhart-hauptmann"),
)

# Characters stripped from the street at the end, and from the housenumber.
STREET_STRIP = " -./,"
HNR_STRIP = " ,"

_PARENS_RE = r"\(.*?\)"


# ---------------------------------------------------------------------------
# Spark Column implementation (the engine's hot path — pure codegen)
# ---------------------------------------------------------------------------

def normalize_street_expr(street: Column) -> Column:
    """Normalized street fragment of the match key (JVM-side, no UDF)."""
    s = F.lower(street)
    s = F.regexp_replace(s, _PARENS_RE, "")
    for old, new in STREET_REPLACEMENTS:
        if new:
            s = F.replace(s, F.lit(old), F.lit(new))
        else:
            s = F.replace(s, F.lit(old), F.lit(""))
    s = F.translate(s, STREET_STRIP, "")
    return s


def normalize_hnr_expr(hnr: Column) -> Column:
    return F.translate(F.lower(hnr), HNR_STRIP, "")


def normalize_key_expr(street: Column, hnr: Column) -> Column:
    """``key = normalize(street) || normalize(housenumber)``.

    Inputs are null-coerced to '' first (reference fillna, 04:362-368).
    """
    s = normalize_street_expr(F.coalesce(street.cast("string"), F.lit("")))
    h = normalize_hnr_expr(F.coalesce(hnr.cast("string"), F.lit("")))
    return F.concat(s, h)


# ---------------------------------------------------------------------------
# Python golden oracle (unit tests / fixture generation)
# ---------------------------------------------------------------------------

def normalize_street_py(street: str | None) -> str:
    s = ("" if street is None else str(street)).lower()
    s = re.sub(_PARENS_RE, "", s)
    for old, new in STREET_REPLACEMENTS:
        s = s.replace(old, new)
    for ch in STREET_STRIP:
        s = s.replace(ch, "")
    return s


def normalize_key_py(street: str | None, hnr: str | None) -> str:
    h = ("" if hnr is None else str(hnr)).lower()
    for ch in HNR_STRIP:
        h = h.replace(ch, "")
    return normalize_street_py(street) + h


# ---------------------------------------------------------------------------
# DuckDB SQL emitters (driver oracle parity)
# ---------------------------------------------------------------------------

def normalize_street_sql(expr: str) -> str:
    """DuckDB SQL expression computing the normalized street of ``expr``."""
    s = f"lower({expr})"
    s = f"regexp_replace({s}, '\\(.*?\\)', '', 'g')"  # 'g' = global, like Python re.sub
    for old, new in STREET_REPLACEMENTS:
        o = old.replace("'", "''")
        n = new.replace("'", "''")
        s = f"replace({s}, '{o}', '{n}')"
    s = f"translate({s}, '{STREET_STRIP}', '')"
    return s


def normalize_hnr_sql(expr: str) -> str:
    return f"translate(lower({expr}), '{HNR_STRIP}', '')"


def normalize_key_sql(street_expr: str, hnr_expr: str) -> str:
    s = normalize_street_sql(f"coalesce(CAST({street_expr} AS VARCHAR), '')")
    h = normalize_hnr_sql(f"coalesce(CAST({hnr_expr} AS VARCHAR), '')")
    return f"({s} || {h})"


# ---------------------------------------------------------------------------
# Extraction-stage cleaners (reference scripts/02_extract_alkis.py)
# ---------------------------------------------------------------------------

_ORTSTEIL_RE = r"(?i),\s*Ortsteil\s+[^;]+"
_NRW_SUFFIX_RE = r"\s+(?!(?:Au|Aa|Oy|Ut|II|IV|VI|IX|XI)$)[A-Za-zäöüßÄÖÜ]{2}$"
_NDS_SUFFIX_RE = r",\s*[^0-9]+$"


def remove_ortsteil_expr(col: Column) -> Column:
    """Strip ``, Ortsteil ...`` spans (02_extract_alkis.py:25-30)."""
    return F.trim(F.regexp_replace(col, _ORTSTEIL_RE, ""))


def clean_nrw_suffix_expr(col: Column) -> Column:
    """Drop trailing 2-letter tokens except an allowlist (02:137-147)."""
    return F.trim(F.regexp_replace(col, _NRW_SUFFIX_RE, ""))


def clean_nds_suffix_expr(col: Column) -> Column:
    """Drop ``,<non-digits>$`` suffixes (02:149-158)."""
    return F.trim(F.regexp_replace(col, _NDS_SUFFIX_RE, ""))


# ---------------------------------------------------------------------------
# Deterministic row id (reference scripts/02_extract_alkis.py:32-42)
# ---------------------------------------------------------------------------

def alkis_id_expr(district: Column, street: Column, hnr: Column,
                  lon: Column, lat: Column) -> Column:
    """``substring(md5('{district}_{street}_{hnr}_{x:.3f}_{y:.3f}'), 1, 12)``.

    Null coordinates map to the 'no_geo' sentinel like the reference.
    """
    geo = F.when(
        lon.isNotNull() & lat.isNotNull(),
        F.format_string("%.3f_%.3f", lon, lat),
    ).otherwise(F.lit("no_geo"))
    raw = F.concat_ws(
        "_",
        F.coalesce(district.cast("string"), F.lit("")),
        F.coalesce(street.cast("string"), F.lit("")),
        F.coalesce(hnr.cast("string"), F.lit("")),
        geo,
    )
    return F.substring(F.md5(raw), 1, 12)


def alkis_id_py(district: str, street: str, hnr: str,
                lon: float | None, lat: float | None) -> str:
    geo = f"{lon:.3f}_{lat:.3f}" if lon is not None and lat is not None else "no_geo"
    raw = f"{district}_{street}_{hnr}_{geo}"
    return hashlib.md5(raw.encode("utf-8")).hexdigest()[:12]

