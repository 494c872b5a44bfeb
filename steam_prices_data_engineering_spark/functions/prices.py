"""Locale-aware price parsing and currency normalization as Spark expressions.

Re-expresses the reference's scalar price pipeline (SURVEY.md §2a O20-O24)
without any Python UDF — everything stays inside whole-stage codegen, so the
parse runs JVM-side at full vectorized speed and Catalyst can still push
filters through it.

Reference semantics reproduced exactly
(`/root/reference/Scripts/transformers/steam_prices_transformer.py:101-132`):

1. Take the FIRST regex match of ``[0-9]+[,\\. ]?[0-9]*`` in the raw string
   (``re.findall(...)[0]``, line 120) — note this deliberately truncates
   "1.234,56" to "1.234"; we keep that behavior for parity.
2. Hypothesis A (line 122-124): strip spaces, drop ``.`` (thousands), turn
   ``,`` into the decimal point, parse, divide by the fx rate.
3. If hypothesis A lands outside [0.1, 100] USD (line 125), hypothesis B
   (line 126-128): strip spaces, drop ``,`` (thousands), keep ``.`` as the
   decimal point, parse, divide — returned unconditionally.
4. Any failure (no digits, unparseable, missing rate) -> NaN in the
   reference (line 130-132); we emit SQL NULL instead (NaN->NULL is the
   engine-wide contract, see sources/tables.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PRICE_REGEX = r"[0-9]+[,\. ]?[0-9]*"

# Reference hypothesis-switch bounds (steam_prices_transformer.py:125).
_USD_MIN = 0.1
_USD_MAX = 100.0


def parse_price_usd_sql(price_expr: str, rate_expr: str) -> str:
    """Parse a localized price string and convert to USD; NULL on failure.
    ONE SQL string, valid in Spark SQL and DuckDB alike: the oracles use
    it verbatim and `parse_price_usd` evaluates it in Spark, so the two
    engines cannot drift. Inside the regex's character class, Spark reads
    the escaped ``\\.`` as ``.``: the same set. ``rate_expr`` of NULL or 0
    yields NULL (the reference raises and falls back to NaN for both).
    """
    m = f"regexp_extract({price_expr}, '{PRICE_REGEX}', 0)"
    rate = f"nullif(CAST({rate_expr} AS DOUBLE), 0.0)"
    # Hypothesis A: '.' = thousands separator, ',' = decimal point.
    a = f"try_cast(replace(replace(replace({m}, ' ', ''), '.', ''), ',', '.') AS DOUBLE) / {rate}"
    # Hypothesis B: ',' = thousands separator, '.' = decimal point.
    b = f"try_cast(replace(replace({m}, ' ', ''), ',', '') AS DOUBLE) / {rate}"
    return (
        f"CASE WHEN {m} IS NULL OR {m} = '' THEN NULL "
        f"WHEN ({a}) IS NULL THEN NULL "
        f"WHEN ({a}) > {_USD_MAX} OR ({a}) < {_USD_MIN} THEN ({b}) "
        f"ELSE ({a}) END"
    )


def parse_price_usd(price_expr: str, rate_expr: str) -> Column:
    """`parse_price_usd_sql` as a Spark Column, over SQL expressions (column
    names, typically) for the price string and the FX rate. No UDF: the
    parse stays inside whole-stage codegen."""
    return F.expr(parse_price_usd_sql(price_expr, rate_expr))


def normalize_country_iso(cc: Column) -> Column:
    """Lower-case + Steam's 'uk' -> ISO 'gb' remap
    (`world_map_transformer.py:127-128`, O22/O23)."""
    low = F.lower(cc)
    return F.when(low == "uk", F.lit("gb")).otherwise(low)


# Euro-zone member ISO alpha-2 codes (public ISO 4217 fact; replaces the
# reference's runtime babel lookup, `world_map_transformer.py:173-178`, with
# a deterministic static dim — SURVEY.md §7.2).
EUROZONE_ISO2 = (
    "ad", "at", "be", "cy", "de", "ee", "es", "fi", "fr", "gr", "hr", "ie",
    "it", "lt", "lu", "lv", "mc", "me", "mt", "nl", "pt", "si", "sk", "sm",
    "va", "xk",
)


def collapse_eurozone(iso2: Column) -> Column:
    """Map euro-zone countries to the synthetic 'EU' key
    (`world_map_transformer.py:181-182`, O24)."""
    return F.when(F.lower(iso2).isin(*EUROZONE_ISO2), F.lit("EU")).otherwise(iso2)
