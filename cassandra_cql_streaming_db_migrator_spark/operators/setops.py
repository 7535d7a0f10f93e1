"""Set operations (SURVEY §2.7 O6) — absent from the reference (its
multi-table configs are independent pipelines), native here.

UNION/INTERSECT/EXCEPT in their SQL (distinct) forms plus the ALL variants.
Physically these are aggregates/joins on all columns — same shuffle rules as
any wide op; distinct forms get map-side partial dedup for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL EXCEPT (distinct) — DataFrame.subtract has exactly these
    semantics (distinct rows of a not present in b)."""
    return a.subtract(b)


def intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """Multiset INTERSECT ALL (duplicate-preserving)."""
    return a.intersectAll(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """Multiset EXCEPT ALL (subtracts per-row multiplicities)."""
    return a.exceptAll(b)
