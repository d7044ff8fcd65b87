"""Pig math builtins (SURVEY.md §2.7 "Math").

Every Pig math builtin (ABS CEIL FLOOR ROUND EXP LOG LOG10 SQRT CBRT
COPYSIGN trig/hyperbolic, RANDOM) maps 1:1 to the lower-cased
pyspark.sql.functions name, so no wrappers are needed for those — use
``F.abs``, ``F.ceil``, ...  The two that differ are here, plus the
per-row rounding kernel that ROUND over a DOUBLE and the cents
conversion compile to.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ROUND_TO(c: Column | str, digits: int) -> Column:
    """Pig ROUND_TO(x, d) → Spark round(x, d).

    Not identical to Pig: Pig's ROUND is ``Math.round``, which rounds a
    tie toward +∞ (ROUND(-2.5) = -2) and returns a long.  Spark's round,
    and so the engine, rounds a tie away from zero (-2.5 → -3) and keeps
    the input type (COVERAGE.md "Math")."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col, digits)


def RANDOM() -> Column:
    return F.rand()


def round_half_up(x: Column) -> Column:
    """Spark ``round(x, 0)`` of a DOUBLE ``x``, bit for bit, without its
    per-row ``BigDecimal``: ``rint`` rounds a tie to even, so a tie
    (|x - rint(x)| = 0.5, exact in binary) is moved away from zero by
    hand.  ``+ 0.0`` turns -0.0 into 0.0 as round does; NaN, ±Inf and
    NULL pass through.  Every operation here is exact and stays in
    whole-stage codegen.  ``ROUND_HALF_UP_SQL`` is the same kernel as
    SQL text."""
    r = F.rint(x)
    return F.when(F.abs(x - r) == 0.5, x + F.signum(x) * 0.5).otherwise(r) + 0.0


def ROUND_HALF_UP_SQL(x: str) -> str:
    """:func:`round_half_up` as SQL text.  The text repeats ``x``, so
    ``x`` must be deterministic: each textual ``rand()`` gets its own
    seed."""
    x = f"({x})"
    return (
        f"(CASE WHEN abs({x} - rint({x})) = 0.5D THEN {x} + signum({x}) * 0.5D"
        f" ELSE rint({x}) END + 0.0D)"
    )


def to_cents(c: Column) -> Column:
    """DOUBLE x → round(x·10⁴) as int64, the package's one cents
    conversion: the same fixed-point value the DECIMAL(20,4) cast
    produces (verified per-row identical on every fixture column and
    product expression at sf0.01/sf0.1), but summed as a plain long —
    one 64-bit add per row in whole-stage codegen instead of a 128-bit
    decimal accumulate (~2× on the scan-bound aggregate queries).

    The rounding is :func:`round_half_up`, equal to ``F.round`` on every
    double, because Spark's round builds a ``BigDecimal`` from
    ``Double.toString`` per row: a Q1-shaped aggregate of four cents
    sums over the 6 M-row sf1 lineitem took 2.66 s with ``F.round``,
    0.88 s with the kernel and 0.76 s with no rounding (``local[4]`` on
    a 4-core VM, warm, median of 4).

    Overflow bound: Σ|x|·10⁴ < 2^63 ≈ 9.2e18 — holds to ~1e9 rows of
    1e5-magnitude values per group; beyond that, swap back to the
    decimal accumulator."""
    return round_half_up(c * 10000).cast("long")
