"""Oracle output-TYPE audit (r11, the shard-order root cause).

Four rounds of driver-red on the shard_order family (r7-r10) came down
to a TYPE mismatch, not a value mismatch: DuckDB types an un-CAST
`list_sum(...) % 16` output column as HUGEINT, which fetches as
`decimal.Decimal` while the Spark twin emits a plain BIGINT/int. Python
`Decimal(3) == 3` is True, so tools/check_oracle.py's value comparison
passed locally every round — but a type-carrying hash (the driver's)
flips on every row. rows_match/schema_match stayed green, hash_match
red, deterministically, independent of the data generation.

These tests make that hazard class impossible to reintroduce:

- DESCRIBE every registered oracle (binding only — no execution, so the
  whole 400-query sweep is sub-second) and forbid HUGEINT anywhere in
  the output schema.
- DECIMAL outputs are allowed ONLY on an explicit allowlist of queries
  whose SPARK side emits DoubleType there. Why that combination is
  safe while HUGEINT-vs-int is not (probed r11): duckdb's pandas path
  (.df()) converts BOTH a fractional DECIMAL and HUGEINT to float64 —
  so DECIMAL vs a Spark double harmonizes to float64-vs-float64 (both
  allowlisted queries drew green driver samples: dp_noisy_release r2,
  histogram_extendedprice r8, values exact halves → byte-identical
  doubles), while HUGEINT vs a Spark int is float64-vs-int64 (the red
  trio). Anything new that DESCRIBEs as DECIMAL must either CAST or
  join the allowlist with a DoubleType Spark twin.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from steam_prices_data_engineering_spark.plans import registry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Queries whose DECIMAL outputs are harmonized by the client conversion:
# duckdb .df() renders fractional DECIMAL as float64, matching the Spark
# DoubleType twin (pinned by test_decimal_allowlist_matches_spark).
_DECIMAL_ALLOWLIST = {
    "dp_noisy_release": {"epsilon"},
    "histogram_extendedprice": {"lo", "hi"},
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    yield con
    con.close()


def _described(duck):
    out = {}
    for name, sql in registry.oracle_sql().items():
        out[name] = duck.execute("DESCRIBE " + sql).fetchall()
    return out


def test_no_hugeint_oracle_outputs(duck):
    """HUGEINT fetches as decimal.Decimal; the Spark twin is int. A
    value-equal type mismatch is invisible to check_oracle but red under
    a type-carrying hash — CAST to BIGINT at the output."""
    offenders = {
        name: [(c[0], c[1]) for c in desc if "HUGEINT" in str(c[1])]
        for name, desc in _described(duck).items()
    }
    offenders = {n: f for n, f in offenders.items() if f}
    assert not offenders, (
        f"oracle outputs typed HUGEINT (shard_order r7-r10 hazard): "
        f"{offenders}"
    )


def test_decimal_oracle_outputs_allowlisted(duck):
    offenders = {}
    for name, desc in _described(duck).items():
        allowed = _DECIMAL_ALLOWLIST.get(name, set())
        flagged = [
            (c[0], c[1])
            for c in desc
            if "DECIMAL" in str(c[1]) and c[0] not in allowed
        ]
        if flagged:
            offenders[name] = flagged
    assert not offenders, (
        f"un-allowlisted DECIMAL oracle outputs (must CAST or prove the "
        f"Spark side matches): {offenders}"
    )


def test_decimal_allowlist_matches_spark(spark):
    """The allowlisted DECIMAL oracle columns are only safe because the
    Spark twin is a DOUBLE (both sides land as float64 client-side) —
    pin it so a refactor that changes the Spark type fails here and
    forces the oracle CAST to change in lockstep."""
    from pyspark.sql import types as T

    qs = registry.queries()
    for name, cols in _DECIMAL_ALLOWLIST.items():
        df = qs[name](spark, SF_DIR)
        for c in cols:
            assert isinstance(df.schema[c].dataType, T.DoubleType), (
                f"{name}.{c} is no longer DoubleType on the Spark side; "
                f"update the oracle and the allowlist together"
            )


@pytest.mark.parametrize(
    "x, scale", [(4201.31499999, 2), (9007199254.740992, 6)]
)
def test_dround_sql_is_double_and_bit_identical(spark, duck, x, scale):
    """`dround_sql` types DOUBLE in Spark SQL and in DuckDB and gives the
    Column `dround`'s double to the bit: a value just under a decimal
    half, and one near 2^53/1e6 where DECIMAL arithmetic would part from
    double math."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from steam_prices_data_engineering_spark.functions.rounding import (
        dround,
        dround_sql,
    )

    lit = repr(x)
    s_df = spark.sql(
        f"SELECT {dround_sql('x', scale)} AS r FROM VALUES ({lit}D) t(x)"
    )
    assert isinstance(s_df.schema["r"].dataType, T.DoubleType)
    d_sql = (
        f"SELECT {dround_sql('x', scale)} AS r "
        f"FROM (SELECT CAST('{lit}' AS DOUBLE) AS x)"
    )
    assert duck.execute("DESCRIBE " + d_sql).fetchall()[0][1] == "DOUBLE"
    col = spark.sql(f"SELECT {lit}D AS x").select(
        dround(F.col("x"), scale).alias("r")
    )
    got = {
        "spark_sql": s_df.collect()[0].r,
        "duckdb": duck.execute(d_sql).fetchone()[0],
        "column": col.collect()[0].r,
    }
    assert len({v.hex() for v in got.values()}) == 1, got


def test_sql_queries_spark_types_match_duckdb(spark, duck):
    """A `register_sql` query's Spark plan is its oracle text, so its
    analysed Spark schema (no job runs) must give DuckDB's DESCRIBE types
    column for column, under tools/audit_oracle_dtypes.py's mapping
    (numeric widths compared too)."""
    from tools.audit_oracle_dtypes import duck_family, spark_family

    def key(fam):
        return fam if fam[0] in ("int", "float") else fam[0]

    assert registry.SQL_QUERIES
    qs, oracles = registry.queries(), registry.oracle_sql()
    mismatched = {}
    for name in sorted(registry.SQL_QUERIES):
        s_cols = [
            (f.name, key(spark_family(f.dataType)))
            for f in qs[name](spark, SF_DIR).schema.fields
        ]
        d_cols = [
            (c[0], key(duck_family(c[1])))
            for c in duck.execute("DESCRIBE " + oracles[name]).fetchall()
        ]
        if s_cols != d_cols:
            mismatched[name] = (s_cols, d_cols)
    assert not mismatched, mismatched
