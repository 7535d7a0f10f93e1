"""Aggregate family (SURVEY §2.6 A4).

Absent from the reference (its only aggregate is the counter merge,
operators.counter); first-class here.  Everything routes through
``groupBy().agg()`` so Tungsten's hash aggregate with map-side partial
aggregation applies — the shuffle moves partial states, not rows, which is
what makes a 100 TB groupBy feasible.

``decimal_sum`` is the cross-engine determinism primitive: double sums are
order-dependent (partitioning-dependent!), decimal sums are exact and
associative.  Any aggregate a correctness gate will hash must use it.

Output-boundary rule (round-2 fix): the SUM itself stays DECIMAL(28,10) so
partial aggregation is exact and associative, but the *emitted* column is
``CAST(round(sum, s) AS DOUBLE)`` — raw DECIMAL materializes differently
across engines (scale/trailing-zero/Decimal-vs-float at the client
boundary) and fails value hashing even when the numbers are equal.

The order of operations is load-bearing (measured against DuckDB):
  * round IN DECIMAL SPACE, then convert once.  ``round(CAST(x AS DOUBLE))``
    rounds in float space, where the two engines' round() implementations
    disagree on large magnitudes (observed at ~3.8e9).
  * Spark's decimal round/scale-down cast is HALF_UP; DuckDB's ``round()``
    is too, but DuckDB's ``CAST`` to a smaller scale TRUNCATES — the oracle
    must spell it ``CAST(round(sum(...), s) AS DOUBLE)``.
  * the final decimal->double is exact on both engines iff the scaled
    integer < 2^53, i.e. |value| < 9e15 / 10^s.  Scale 2 (the default)
    holds to |sum| ~ 9e13 — far beyond any fixture grand total; use scale
    6 only for provably small magnitudes (per-key sums, averages).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EXACT_DECIMAL = "decimal(28,10)"


def decimal_sum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact decimal sum, canonicalized to DOUBLE at the output boundary:
    round in decimal space (HALF_UP), then one exact decimal->double.
    Oracle twin: ``CAST(round(sum(CAST(x AS DECIMAL(28,10))), 2) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(EXACT_DECIMAL)), scale).cast("double").alias(alias)


def stable_avg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Exact decimal sum -> one double division -> round: identical bits on
    any engine / any partitioning."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast(EXACT_DECIMAL)).cast("double") / F.count(F.lit(1)), scale
    ).alias(alias)


def rollup_agg(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    """ROLLUP with grouping indicators (int-cast so engines agree on type);
    grouping() must live inside agg() — it is aggregate-context only."""
    marks = [F.grouping(c).cast("int").alias(f"grouping_{c}") for c in group_cols]
    return df.rollup(*group_cols).agg(*aggs, *marks)


def cube_agg(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    marks = [F.grouping(c).cast("int").alias(f"grouping_{c}") for c in group_cols]
    return df.cube(*group_cols).agg(*aggs, *marks)


def grouped(df: DataFrame, group_cols: list[str], aggs: list[Column]) -> DataFrame:
    return df.groupBy(*group_cols).agg(*aggs)
