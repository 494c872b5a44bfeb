"""Cross-engine deterministic rounding.

Spark's ``round(double, s)`` converts through the value's SHORTEST decimal
representation (BigDecimal.valueOf -> HALF_UP), so a stored 4201.31499999...
(the binary neighbor of 4201.315) rounds to 4201.32. DuckDB rounds the exact
binary value -> 4201.31. Any aggregate that lands on a decimal half at the
rounding scale therefore hash-mismatches between the engines.

``dround`` sidesteps the repr problem entirely: ``floor(x * 10^s + 0.5) /
10^s`` is pure IEEE-754 double arithmetic, bit-identical on the JVM and in
C++ given the same input double. Both sides of every oracle comparison use
this (Spark via `dround`, SQL via `dround_sql`).

``dround_sql`` casts the floor to DOUBLE: Spark's ``floor`` returns BIGINT,
and BIGINT divided by the DECIMAL literal ``10000.0`` types DECIMAL(28,7) in
Spark SQL where DuckDB gives DOUBLE. With the cast both engines type the
text DOUBLE and compute the same double as the Column ``dround``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dround(col: Column, scale: int) -> Column:
    f = float(10**scale)
    return F.floor(col * f + F.lit(0.5)) / F.lit(f)


def dround_sql(expr: str, scale: int) -> str:
    f = float(10**scale)
    return f"CAST(floor(({expr}) * {f} + 0.5) AS DOUBLE) / {f}"
