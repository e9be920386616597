"""Shared helpers for the operator library.

Cross-engine determinism rules (Spark vs the DuckDB oracle):

* **Never aggregate raw doubles.**  Float addition is order-dependent and
  Spark's combine order varies run-to-run.  Cast to DECIMAL first — both
  engines then sum exactly, so results are bit-stable and identical.
  (At 100 TB this is also the *correct* choice for money-like columns.)
* **Averages** = exact decimal SUM cast to double, divided by COUNT —
  one deterministic IEEE division instead of an engine-specific AVG.
* **Top-k / row_number need a total order** — always add unique key
  tiebreakers to ORDER BY.
* Per-row double arithmetic (no reduction) is IEEE-identical across
  engines and may be emitted raw.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal cast is safe for *raw* money/qty columns (≤2 decimal digits —
# far from any rounding boundary).  Derived products (price*(1-disc)...)
# carry full 53-bit precision where Spark's exact-BigDecimal cast and
# DuckDB's scale-in-double cast can round ties differently — those go
# through the scaled-bigint path below instead.
DEC = "decimal(18,4)"

# fixed-point scale for deterministic sums: 4 decimal digits
_SCALE = 10000


def money(col: str | Column) -> Column:
    """Fixed-point encode: floor(x*1e4 + 0.5) as bigint.

    Pure IEEE double ops — bit-identical in any engine — then exact
    integer summation.  Summations of this encoding go through a
    DECIMAL(38,0) accumulator (``dsum``/``davg`` and the direct
    call sites): a global sum over ~1e13 rows of ~1e10-unit scaled
    values exceeds int64, which Spark 4's default ANSI mode turns into
    a hard query failure exactly at target scale.  The wide accumulator
    is measured at parity with the long one locally, and DuckDB's
    BIGINT sum already widens to int128.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * _SCALE + F.lit(0.5)).cast("bigint")


def dsum(col: str | Column, alias: str) -> Column:
    """Deterministic fixed-point sum of a double expression (as double).

    The accumulator is DECIMAL(38,0), not BIGINT: a global sum over
    ~1e13 rows of 1e10-unit scaled values exceeds int64, which under
    Spark 4's default ANSI mode fails the query at exactly the scale
    this engine targets (and silently wraps with ANSI off).  The wide
    accumulator measures identically fast locally and is exact to 38
    digits; DuckDB's BIGINT sum already widens to int128."""
    return (
        F.sum(money(col).cast("decimal(38,0)")).cast("double") / _SCALE
    ).alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Deterministic average via fixed-point sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(money(c).cast("decimal(38,0)")).cast("double")
        / _SCALE
        / F.count(c),
        6,
    ).alias(alias)


def oracle_money(expr: str) -> str:
    return f"CAST(floor(({expr}) * 10000 + 0.5) AS BIGINT)"


def oracle_dsum(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM({oracle_money(expr)}) AS DOUBLE) / 10000 AS {alias}"
