"""Query registry + cross-engine determinism helpers.

``@query(name, sql)`` adds a query and its DuckDB oracle SQL to the one
``QUERIES`` dict and refuses a name that is already there.  The
registered callable reuses its built plan within one application
(``catalog.memo``); its ``__wrapped__`` always builds a fresh one.

Floating-point discipline (FIXTURES.md "gotchas", hardened): a plain
SUM(double) over 60k rows differs between engines by ~1e-3 at 1e9
magnitude — more than any fixed rounding can absorb at boundaries.  So
every hashed aggregate of a double goes through DECIMAL(20,4): the
double→decimal conversion is per-value deterministic, decimal addition is
exact and associative, and the final cast back to double is exact for our
magnitudes (< 2^53 quanta).  Both engines then produce bit-identical
doubles.  Averages divide two such exact doubles (IEEE division is
deterministic).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pigout_spark.catalog import load_table, memo


@dataclass(frozen=True)
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None


#: Every registered query, in registration order.  ``queries/__init__.py``
#: splits it into the driver window and the local extras.
QUERIES: dict[str, Q] = {}


def _memoized(name: str, fn: Callable) -> Callable:
    """A registered query is a pure function of (session, sf_dir): build
    and analyze its plan once, execute it many times."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return memo(spark, ("plan", sf_dir, name), lambda: fn(spark, sf_dir))

    wrapped.__doc__ = fn.__doc__
    wrapped.__name__ = fn.__name__
    wrapped.__wrapped__ = fn
    return wrapped


def query(name: str, sql: str | None = None):
    """Register a query under ``name`` with its DuckDB oracle SQL; a name
    registers once.  Every registered query is checked against its oracle
    by ``tools/selfcheck.py``; ``DRIVER_WINDOW`` picks the driver's 50."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = Q(_memoized(name, fn), sql)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _cents(c: Column) -> Column:
    """x → round(x·10⁴) as int64 — the same fixed-point value the
    DECIMAL(20,4) cast produces (verified per-row identical on every
    fixture column and product expression at sf0.01/sf0.1), but summed
    as a plain long: one 64-bit add per row in whole-stage codegen
    instead of a 128-bit decimal accumulate (~2× on the scan-bound
    aggregate queries).  Overflow bound: Σ|x|·10⁴ < 2^63 ≈ 9.2e18 —
    holds to ~1e9 rows of 1e5-magnitude values per group; beyond that,
    swap back to the decimal accumulator."""
    return F.round(c * 10000).cast("long")


def dsum(col: Column | str, alias: str) -> Column:
    """Exact cross-engine double sum (see module docstring).
    SQL twin: CAST(SUM(CAST(x AS DECIMAL(20,4))) AS DOUBLE) AS alias.
    Implementation sums int64 cents (``_cents``); the final
    cents→double conversion (exact, < 2^53) and /10⁴ division round
    exactly like DuckDB's DECIMAL→DOUBLE cast."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(_cents(c)).cast("double") / F.lit(10000.0)).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact cross-engine average: exact sum / count.
    SQL twin: CAST(SUM(CAST(x AS DECIMAL(20,4))) AS DOUBLE)
              / COUNT(x) AS alias."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(_cents(c)).cast("double") / F.lit(10000.0) / F.count(c)
    ).alias(alias)


def SQL_DSUM(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(20,4))) AS DOUBLE) AS {alias}"


def SQL_DAVG(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(20,4))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
