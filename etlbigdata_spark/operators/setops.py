"""Set operations (SURVEY §2 A6, B8).

A6 is the reference's only set op: vertical concat of named tables via
``pd.concat`` (``/root/reference/simple_etl.py:134-145``), which aligns
columns BY NAME and null-fills missing ones — hence ``unionByName(
allowMissingColumns=True)``, not positional ``union`` (SURVEY §2 A6).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(dfs: list[DataFrame], allow_missing_columns: bool = True) -> DataFrame:
    """A6/B8 — UNION ALL of ≥2 frames, pandas-concat name-aligned semantics."""
    if len(dfs) < 2:
        raise ValueError("union_all needs at least 2 frames")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing_columns), dfs)


def intersect(left: DataFrame, right: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    """B8 — INTERSECT [ALL]."""
    return left.intersectAll(right) if keep_duplicates else left.intersect(right)


def except_(left: DataFrame, right: DataFrame, keep_duplicates: bool = True) -> DataFrame:
    """B8 — EXCEPT ALL (multiset difference) by default, EXCEPT otherwise."""
    return left.exceptAll(right) if keep_duplicates else left.subtract(right)
