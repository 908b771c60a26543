"""Exact money arithmetic for fact-scale aggregates.

A float SUM over millions of ~1e5-magnitude doubles accumulates
summation-order noise larger than the 4-dp rounding grid the oracle
comparisons use (the sf1 scale sweep caught .4255 vs .4256 on a 3.8e11
total) — and the noise grows with scale, so at 100 TB it crosses any
fixed rounding. Because the fixture's money columns are exact 2-dp
values and discounts/taxes are exact 2-dp factors, the products are
exact in 1e-4 / 1e-6 units that fit a BIGINT: summing integers is
order-independent and bit-identical on every engine.

Bounds: cents per row ≤ 1.05e7; 1e-4-unit revenue per row ≤ 1.05e9;
1e-6-unit charge per row ≤ 1.15e11 → a 9.2e18 signed-long sum overflows
only past ~8e7 rows × 1e11 ≈ sf10 000 for charge. For a production lake
the durable answer is DECIMAL columns end to end; these helpers encode
the same idea without rewriting the double-typed fixtures.

Each helper returns (spark Column in integer units, SQL text in the same
units) so query and oracle stay visibly in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# SQL fragments (DuckDB + ANSI): integer units of the money expressions
CENTS_SQL = "CAST(ROUND({col} * 100) AS BIGINT)"
REV_UNITS_SQL = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)"
)
DISC_REV_UNITS_SQL = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * CAST(ROUND(l_discount * 100) AS BIGINT)"
)


def cents(col: str) -> Column:
    """An exact 2-dp money column in integer cents."""
    return F.round(F.col(col) * 100).cast("long")


def rev_units(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """price × (1 − disc) in exact 1e-4 integer units."""
    return cents(price) * F.round((1 - F.col(disc)) * 100).cast("long")


def disc_rev_units(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """price × disc (the TPC-H Q6 'revenue change') in exact 1e-4 units."""
    return cents(price) * F.round(F.col(disc) * 100).cast("long")


def charge_units(
    price: str = "l_extendedprice", disc: str = "l_discount", tax: str = "l_tax"
) -> Column:
    """price × (1 − disc) × (1 + tax) in exact 1e-6 integer units."""
    return rev_units(price, disc) * F.round((1 + F.col(tax)) * 100).cast("long")


def sum_money(units: Column, scale: int, ndigits: int = 4) -> Column:
    """SUM the integer units and convert back to currency (10^-scale)."""
    return F.round(F.sum(units) / float(10**scale), ndigits)
