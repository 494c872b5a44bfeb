"""Unit tests for the locale price parser (O20, SURVEY.md §5.3-5.4):
replicates `parse_app_price` (/root/reference/.../steam_prices_transformer.py:
101-132) semantics case-by-case, plus hypothesis-based properties."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from steam_prices_data_engineering_spark.functions.prices import (
    collapse_eurozone,
    normalize_country_iso,
    parse_price_usd,
)


def _parse_many(spark, cases):
    """cases: list of (price_str, ex_rate). Returns list of parsed values."""
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("price_str", T.StringType()),
            T.StructField("ex_rate", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(i, p, r) for i, (p, r) in enumerate(cases)], schema
    )
    rows = (
        df.select(
            "i", parse_price_usd("price_str", "ex_rate").alias("usd")
        )
        .collect()
    )
    by_i = {r["i"]: r["usd"] for r in rows}
    return [by_i[i] for i in range(len(cases))]


def _reference_parse(price_str, ex_rate):
    """Faithful python replica of the reference algorithm for property
    comparison (steam_prices_transformer.py:119-132), returning None where
    the reference returns NaN."""
    import re

    try:
        found = re.findall(r"[0-9]+[,\. ]?[0-9]*", price_str)
        if found:
            s = found[0].replace(" ", "").replace(".", "").replace(",", ".")
            usd = float(s) / ex_rate
            if usd > 100 or usd < 0.1:
                s = found[0].replace(" ", "").replace(",", "")
                usd = float(s) / ex_rate
            if math.isnan(usd) or math.isinf(usd):
                return None
            return usd
    except Exception:
        pass
    return None


CASES = [
    ("19,99€", 1.0, 19.99),          # EU decimal comma
    ("$9.64 USD", 1.0, 9.64),        # US decimal dot (hyp A gives 964 -> out of range -> hyp B)
    ("R$ 1.299,00", 5.2, 1.299 / 5.2),  # first regex match is '1.299' (reference truncation)
    # space thousands: the reference regex stops at the comma -> '1 099'
    # (steam_prices_transformer.py:120 takes only findall()[0])
    ("1 099,50", 450.0, 1099.0 / 450.0),
    ("Free", 1.0, None),             # no digits
    ("", 1.0, None),                 # empty
    (None, 1.0, None),               # NULL in
    ("19,99", None, None),           # missing rate
    ("19,99", 0.0, None),            # zero rate (reference raises -> NaN)
    ("42", 1.0, 42.0),               # integer, in range
    # hyp A reads '.' as thousands: '005' -> 5.0, in range, kept (the
    # reference mis-parses dot-decimal strings whose hyp-A lands in range)
    ("0.05", 1.0, 5.0),
]


def test_parser_cases(spark):
    got = _parse_many(spark, [(p, r) for p, r, _ in CASES])
    for (p, r, want), actual in zip(CASES, got):
        if want is None:
            assert actual is None, f"{p!r}/{r}: want NULL got {actual}"
        else:
            assert actual == pytest.approx(want, rel=1e-12), f"{p!r}/{r}"


@given(
    st.text(
        alphabet="0123456789,. €$abRz",
        max_size=12,
    ),
    st.one_of(st.none(), st.floats(0.01, 1000.0, allow_nan=False)),
)
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_parser_matches_reference_property(spark, price_str, rate):
    want = None if rate is None else _reference_parse(price_str, rate)
    got = _parse_many(spark, [(price_str, rate)])[0]
    if want is None:
        assert got is None
    else:
        assert got == pytest.approx(want, rel=1e-9)


def test_uk_gb_remap(spark):
    df = spark.createDataFrame([("UK",), ("uk",), ("de",), ("US",)], ["cc"])
    got = [r[0] for r in df.select(normalize_country_iso(F.col("cc"))).collect()]
    assert got == ["gb", "gb", "de", "us"]


def test_eurozone_collapse(spark):
    df = spark.createDataFrame([("de",), ("fr",), ("us",), ("gb",)], ["cc"])
    got = [r[0] for r in df.select(collapse_eurozone(F.col("cc"))).collect()]
    assert got == ["EU", "EU", "us", "gb"]
