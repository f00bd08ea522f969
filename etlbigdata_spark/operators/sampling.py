"""Sampling & profiling (SURVEY §2 B17, B27).

B27 generalizes the reference's cleaning stage into measurable data
quality: the ref could fill nulls (``simple_etl.py:192-199``) but never
tell you how many there were.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample(df: DataFrame, fraction: float, seed: int = 42, with_replacement: bool = False) -> DataFrame:
    """B17 — Bernoulli row sample; deterministic per (seed, partitioning)."""
    return df.sample(withReplacement=with_replacement, fraction=fraction, seed=seed)


def null_profile(df: DataFrame) -> DataFrame:
    """B27 — per-column null count + rate, single pass (one aggregate, no
    per-column jobs). Output long-form: (col_name, n_null, null_rate)."""
    total = F.count(F.lit(1))
    aggs = [total.alias("__total")]
    for c in df.columns:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
    row = df.agg(*aggs)
    stacked = row.select(
        F.expr(
            "stack({n}, {args}) as (col_name, n_null)".format(
                n=len(df.columns),
                args=", ".join(f"'{c}', __null_{c}" for c in df.columns),
            )
        ),
        F.col("__total"),
    )
    return stacked.select(
        "col_name",
        "n_null",
        (F.col("n_null") / F.col("__total")).alias("null_rate"),
    )


def histogram(df: DataFrame, column: str, lo: float, hi: float, n_bins: int) -> DataFrame:
    """B27 — equi-width histogram in ONE aggregate pass: bucket index by
    arithmetic (floor((x−lo)/width), IEEE-identical across engines),
    out-of-range values clamped into sentinel buckets −1 / n_bins, NULLs
    dropped. Returns (bucket, bucket_lo, bucket_hi, n_rows) — the
    profiling primitive behind distribution views; one shuffle of
    n_bins+2 partial counts regardless of table size."""
    if n_bins <= 0 or not hi > lo:
        raise ValueError("need n_bins > 0 and hi > lo")
    width = (hi - lo) / n_bins
    x = F.col(column)
    bucket = (
        F.when(x < lo, F.lit(-1))
        .when(x >= hi, F.lit(n_bins))
        .otherwise(F.floor((x - F.lit(lo)) / F.lit(width)))
        .cast("int")
    )
    return (
        df.filter(x.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("bucket_lo"),
            (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("bucket_hi"),
            "n_rows",
        )
    )
