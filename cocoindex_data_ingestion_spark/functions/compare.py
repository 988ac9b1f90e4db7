"""Cross-engine-stable rounding for oracle comparison.

``round()`` differs between engines at representation boundaries:
Spark rounds the exact decimal expansion of the double (BigDecimal
HALF_UP: 0.49334999999999996 → 0.4933) while DuckDB's float round
effectively computes round(x·10⁴)/10⁴ (→ 0.4934). Any rounded score
column would therefore flip at random boundaries.

``stable_round`` instead uses only IEEE-754 double ops — multiply,
add, floor, divide — which every engine executes identically:

    floor(x · 10ⁿ + 0.5) / 10ⁿ

Both sides of every oracle-checked query round through this.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column, n: int = 4) -> Column:
    p = float(10**n)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def stable_round_sql(expr: str, n: int = 4) -> str:
    p = float(10**n)
    return f"floor(({expr}) * {p} + 0.5) / {p}"


# Spark SQL twins of the Column forms, for statements built as text:
# the same operand order, and every double literal ``D``-suffixed
# (Spark SQL reads an unsuffixed ``0.5`` as DECIMAL, so the DuckDB
# ``*_sql`` text above would change the plan's types).
def spark_double(x: float) -> str:
    """Spark SQL double literal; ``repr`` round-trips doubles exactly."""
    return f"{float(x)!r}D"


def stable_round_spark_sql(expr: str, n: int = 4) -> str:
    p = spark_double(10**n)
    return f"floor(({expr}) * {p} + 0.5D) / {p}"


# --- order-independent aggregation of fractional doubles ---------------------
#
# ``sum(double)`` accumulates in partition-dependent order, and IEEE addition
# is not associative: a group whose true sum lands within 1 ULP of a rounding
# boundary flips between ``stable_round`` outcomes run to run (the round-1
# ``events_sessionize`` flake). DuckDB's windowed sums add a second hazard:
# segment-tree aggregation associates additions differently than a linear
# scan.
#
# ``stable_sum`` removes order from the equation entirely: each element is
# rounded to ``n`` fixed-point digits with the same pure-IEEE ``stable_round``
# recipe, cast to long, and summed EXACTLY in integer arithmetic (order
# can't matter), then rescaled. Both engines do the identical per-element
# op, so the group sum is bit-identical no matter the partitioning.
#
# Element headroom: |x|·10ⁿ must stay < 2^63 across the group sum; at
# n=6 and 1e9 rows of |x|≤1e3 the running long is ~1e18 < 9.2e18 — fine
# for every column in the test schema and for 100 TB row counts at n=2.


def stable_sum(col: Column, n: int = 2) -> Column:
    """Order-independent ``sum`` of doubles, rounded to ``n`` digits."""
    p = float(10**n)
    q = F.floor(col * F.lit(p) + F.lit(0.5)).cast("long")
    return F.sum(q) / F.lit(p)


def stable_sum_sql(expr: str, n: int = 2) -> str:
    p = float(10**n)
    return f"(sum(cast(floor(({expr}) * {p} + 0.5) as bigint)) / {p})"


def stable_sum_spark_sql(expr: str, n: int = 2) -> str:
    p = spark_double(10**n)
    return f"sum(CAST(floor(({expr}) * {p} + 0.5D) AS BIGINT)) / {p}"


def stable_avg(col: Column, n: int = 4, elem_scale: int = 6) -> Column:
    """Order-independent ``avg``: exact fixed-point sum / count, then
    ``stable_round`` to ``n``. ``elem_scale`` digits per element bounds the
    quantization error at 5·10^-(elem_scale+1) per element — invisible at
    the compared precision ``n`` < elem_scale."""
    p = float(10**elem_scale)
    q = F.floor(col * F.lit(p) + F.lit(0.5)).cast("long")
    return stable_round(F.sum(q) / F.lit(p) / F.count(col), n)


def stable_avg_sql(expr: str, n: int = 4, elem_scale: int = 6) -> str:
    p = float(10**elem_scale)
    inner = f"sum(cast(floor(({expr}) * {p} + 0.5) as bigint)) / {p} / count({expr})"
    return stable_round_sql(inner, n)
