"""Oracle-hash discipline helpers (SURVEY.md section 5.3).

The driver compares Spark results against DuckDB with an
order-insensitive value hash — so values must be *bit-identical*, not
merely close. Rules, applied on BOTH sides of every query:

1. **Exact integer-cents aggregation.** Summing doubles is
   order-dependent; partition order differs between engines and runs.
   The testdata's numeric columns are 2-decimal money, so we sum
   ``round(x*100)`` as BIGINT — integer addition is exact and
   order-independent — then divide the double-cast total by 100.
   Both engines do identical conversions, giving bit-equal results at
   any partitioning (bench: as fast as plain double sums; exact
   DECIMAL sums cost ~2x, kept as the documented fallback when a
   cents total could exceed 2^63 — roughly >10^11 rows of 10^5-valued
   money, i.e. beyond the driver's scale factors).

2. **Money products in integer cents.** ``ext*(1-disc)`` etc. are
   computed as cents*cents (exact longs), divided by the combined
   scale at the end. Never sum a full-precision double product
   through a decimal cast: the cast itself rounds at a point where
   engines' implementations can disagree (observed 1-ulp drift vs
   DuckDB at sf0.01).

3. **Microsecond timestamps, UTC, timestamp_ntz.** See catalog.py.

Floating-point *per-row* arithmetic (x*y, x-y) is IEEE-deterministic
and needs no treatment; only multi-row reductions do. For inherently
float reductions (stddev, corr, cosine, ln) round to a scale whose
granularity is many orders above the achievable error — and round
BEFORE any rank/filter that depends on the value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fallback exact-decimal type (see rule 1). Scale 2 keeps DuckDB's
# int128->double conversion exact below 2^53-scaled magnitudes.
DEC = "decimal(30,2)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cents(col: Column | str) -> Column:
    """A 2-decimal money column as exact integer cents (BIGINT)."""
    return F.round(_c(col) * 100).cast("long")


def sql_cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def dsum(col: Column | str) -> Column:
    """Order-independent (exact) sum of a 2-decimal column, as double."""
    return F.sum(cents(col)).cast("double") / 100


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact cents sum / non-null count."""
    c = _c(col)
    return F.sum(cents(c)).cast("double") / 100 / F.count(c)


def sql_dsum(expr: str) -> str:
    """DuckDB twin of dsum(expr)."""
    return f"(CAST(sum({sql_cents(expr)}) AS DOUBLE) / 100)"


def sql_davg(expr: str) -> str:
    """DuckDB twin of davg(expr)."""
    return f"(CAST(sum({sql_cents(expr)}) AS DOUBLE) / 100 / count({expr}))"


def round6(col: Column) -> Column:
    """For inherently-float reductions: granularity 1e-6 >> ~1e-12 error."""
    return F.round(col, 6)
