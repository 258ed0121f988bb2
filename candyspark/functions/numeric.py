"""Numeric scalar functions — the engine's money/decimal discipline.

The reference keeps money as float/double and rounds with ``round(x, 2)``
everywhere (/root/reference/src/data_processor.py:481,491,531-536,552-555 —
SURVEY.md §7.4 item 3 calls this out as a hazard). Floating-point sums are
order-dependent (a Spark partial-aggregation tree and a single-threaded
engine can legally disagree in the last ulp), and 2-dp rounding of a double
is engine-dependent exactly at half-cent boundaries. The fix used throughout
this engine: compute money in exact DECIMAL, round half-up in decimal, and
surface a double only at the output edge. Both Spark and DuckDB implement
decimal sums exactly and share HALF_UP semantics, so oracle value-hashes
match bit-for-bit.

All helpers return Column expressions that stay JVM-side (whole-stage
codegen) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def money(c: str | Column) -> Column:
    """Price-like double → exact DECIMAL(12,2) (fits both engines' 38-digit
    cap through a 3-factor product)."""
    return _c(c).cast("decimal(12,2)")


def rate(c: Column) -> Column:
    """(1 ± rate) factor → DECIMAL(4,2)."""
    return c.cast("decimal(4,2)")


def round2(c: Column) -> Column:
    """Final money output: decimal HALF_UP at 2 dp, surfaced as double."""
    return F.round(c, 2).cast("double")


def snap_round(c: Column, digits: int = 4) -> Column:
    """Round a ratio through a wide decimal so Spark and the oracle agree
    on the final double (same trick as ``round2``, for non-money ratios)."""
    return F.round(c.cast("decimal(28,8)"), digits).cast("double")


def safe_div(num: Column, den: Column) -> Column:
    """NULL-on-zero division (both engines return NULL for x/0 in ANSI-off
    Spark only sometimes — make it explicit)."""
    return F.when(den != 0, num / den)
