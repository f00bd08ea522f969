"""Aggregation operators (SURVEY §2 B4-B7).

The reference has no groupBy at all (SURVEY §2 "notably absent") — this
module is pure north-star surface.  Everything is built-in Spark
aggregation (hash-agg with map-side partial aggregation, AQE-coalesced
shuffles); the helpers standardize naming so oracle comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_AGG_FNS = {
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "first": F.first,
    "last": F.last,
    "stddev": F.stddev_samp,
    "var": F.var_samp,
    "collect_list": F.collect_list,
    "collect_set": F.collect_set,
    "count_distinct": F.countDistinct,
    "approx_count_distinct": F.approx_count_distinct,
}


def _build_aggs(aggs: dict[str, tuple[str, str]]) -> list[Column]:
    """aggs: {out_name: (fn, col)} → aliased agg columns."""
    cols = []
    for out_name, (fn, col) in aggs.items():
        if fn not in _AGG_FNS:
            raise ValueError(f"unknown agg fn {fn!r}; one of {sorted(_AGG_FNS)}")
        cols.append(_AGG_FNS[fn](col).alias(out_name))
    return cols


def group_agg(df: DataFrame, by: list[str], aggs: dict[str, tuple[str, str]]) -> DataFrame:
    """B4 — hash aggregate with group-by; partial (map-side) aggregation is
    automatic, so the shuffle carries pre-combined rows, not raw data."""
    return df.groupBy(*by).agg(*_build_aggs(aggs))


def rollup_agg(df: DataFrame, by: list[str], aggs: dict[str, tuple[str, str]]) -> DataFrame:
    """B6 — hierarchical subtotals (GROUP BY ROLLUP)."""
    return df.rollup(*by).agg(*_build_aggs(aggs))


def cube_agg(df: DataFrame, by: list[str], aggs: dict[str, tuple[str, str]]) -> DataFrame:
    """B6 — all grouping-set combinations (GROUP BY CUBE)."""
    return df.cube(*by).agg(*_build_aggs(aggs))


def distinct_counts(df: DataFrame, columns: list[str], approx: bool = False) -> DataFrame:
    """B5 — exact or HLL count-distinct per column, one pass."""
    fn = F.approx_count_distinct if approx else F.countDistinct
    return df.agg(*[fn(c).alias(f"n_{c}") for c in columns])


def hll_sketch_counts(df: DataFrame, columns: list[str], lg_k: int = 12) -> DataFrame:
    """B5 — Apache DataSketches HLL estimates per column, one pass.
    Unlike ``approx_count_distinct`` (whose internal sketch is opaque),
    ``hll_sketch_agg`` exposes the SKETCH as a binary column — the
    mergeable form a 100 TB pipeline stores per partition/day and unions
    later instead of rescanning (see :func:`hll_merge_counts`)."""
    return df.agg(
        *[
            F.hll_sketch_estimate(F.hll_sketch_agg(c, lg_k)).alias(f"n_{c}")
            for c in columns
        ]
    )


def hll_merge_counts(
    df: DataFrame, group_col: str, column: str, lg_k: int = 12
) -> DataFrame:
    """B5 — two-level sketch merge: build one HLL sketch per
    ``group_col`` slice (in a real pipeline: per partition / per day,
    persisted), then union the sketches and estimate.  The estimate of
    the union equals running one sketch over everything — THE
    scale-out property: distinct-count state is a few KB per slice and
    merges associatively, so no re-scan and no exact-distinct shuffle."""
    per_slice = df.groupBy(group_col).agg(
        F.hll_sketch_agg(column, lg_k).alias("sketch")
    )
    return per_slice.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(f"n_{column}")
    )


def top_k_per_group(
    df: DataFrame, partition_by: list[str], order_by: list[Column], k: int, rank_col: str = "rn"
) -> DataFrame:
    """B7 — top-k per group via row_number window; single shuffle on the
    group key. ``order_by`` should include a tiebreaker for determinism."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int = 1800,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """B10 composite — gap-based session assignment: adds a
    ``session_idx`` column (1-based per key) that increments whenever
    more than ``gap_seconds`` passed since the key's previous event.

    The classic two-step window plan (lag → new-session flag → running
    sum of flags), ONE shuffle on ``key_cols``; a following
    ``groupBy(*key_cols, "session_idx")`` aggregate reuses the same
    hash partitioning, so per-session rollups add no second Exchange
    (plan-verified by the evt03 workload query). Gap arithmetic is in
    integer microseconds so engines never disagree on boundaries; pass
    ``tiebreakers`` (e.g. an event id) to pin ordering of same-
    timestamp rows.

    ``ts_col`` may be a TimestampType column OR an already-encoded
    integer epoch-microseconds column (round 12: callers that narrow
    the shuffled row map-side — ``F.unix_micros`` before the exchange —
    pass the long straight through; sessionization order and gap
    arithmetic are identical because ``unix_micros`` is monotone)."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreakers or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    ts_type = dict(df.dtypes).get(ts_col)
    us = F.col(ts_col) if ts_type in ("bigint", "int") else F.unix_micros(F.col(ts_col))
    prev = F.lag(us).over(w)
    flag = F.when(
        prev.isNull() | ((us - prev) > F.lit(gap_seconds * 1_000_000)), F.lit(1)
    ).otherwise(F.lit(0))
    flagged = df.withColumn("__new_sess", flag)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return flagged.withColumn("session_idx", F.sum("__new_sess").over(run)).drop("__new_sess")


def cms_frequencies(
    df: DataFrame,
    column: str,
    queries: list,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """B5 sibling — Count–Min-Sketch frequency estimates: the
    ``count_min_sketch`` aggregate reduces the whole column to one
    KB-scale sketch (per-partition partials union associatively inside
    the aggregate — the same mergeable-sketch scale shape as the HLL
    distinct path), and the requested keys are answered from the sketch
    without touching the data again (deserialized driver-side via
    Spark's own CountMinSketch reader; the sketch, not the data, moves).
    CMS guarantee: estimate ≥ true count and ≤ true + eps·N with the
    given confidence — the 100 TB heavy-hitters primitive when an exact
    per-key groupBy is too wide. Sketches from separate slices/jobs
    merge with ``cms_merge``."""
    row = df.agg(
        F.count_min_sketch(
            F.col(column), F.lit(float(eps)), F.lit(float(confidence)), F.lit(seed)
        ).alias("sk")
    ).collect()[0]
    spark = df.sparkSession
    sk = _cms_read(spark, bytes(row["sk"]))
    rows = [(str(q), int(sk.estimateCount(q))) for q in queries]
    return spark.createDataFrame(rows, "value string, est_count long")


def _cms_read(spark, blob: bytes):
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytearray(blob))
    return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)


def cms_merge(spark, sketches: list[bytes]):
    """Union serialized CMS sketches (associative) — the cross-job merge
    path; returns the JVM sketch, query with ``estimateCount``."""
    out = _cms_read(spark, sketches[0])
    for b in sketches[1:]:
        out.mergeInPlace(_cms_read(spark, b))
    return out


def gap_fill(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    step: str = "interval 1 day",
    zero_fill: list[str] | None = None,
    forward_fill: list[str] | None = None,
    max_grid_rows_per_key: int | None = 10_000_000,
) -> DataFrame:
    """Time-series gap filling (pandas resample+ffill parity): for each
    key, generate the COMPLETE time grid between that key's first and
    last bucket (``sequence`` + explode — grid size is data-bounded,
    never a driver loop), left-join the actuals back, then zero-fill
    count-like columns and forward-fill level-like columns (``last``
    IGNORE NULLS over an unbounded-preceding window).

    ``df`` must already be bucketed at the grid granularity (one row
    per key × bucket). Two shuffles at any scale: the per-key span agg
    and the grid⋈actuals join (both keyed the same — AQE reuses); the
    fill window rides the join's partitioning. Works for date and
    timestamp buckets; ``step`` is any SQL interval literal.

    ``max_grid_rows_per_key`` guards the explode: one key whose span is
    years at a fine ``step`` (bad data, wrong unit) would otherwise
    materialize an enormous sequence inside a single task. The guard is
    an ``assert_true`` over the span arithmetic INSIDE the plan — it
    evaluates on the group-count-sized spans rows just before the
    sequence generates, costs no extra scan or driver action, keeps the
    builder fully lazy, and raises at execution naming the offending
    key and span. Pass ``None`` to disable (e.g. when spans are
    contractually bounded).
    """
    keys = list(key_cols)
    spans = df.groupBy(*keys).agg(
        F.min(time_col).alias("__lo"), F.max(time_col).alias("__hi")
    )
    if max_grid_rows_per_key is not None:
        # bucket count from the span arithmetic, NOT by generating the
        # sequence (Spark would only fail after burning the task, with
        # an opaque error). Base-relative step length: unix_micros(base
        # + step) alone would embed the session timezone's 1970-01-01
        # offset into step_sec for non-UTC sessions.
        lo, hi = F.col("__lo").cast("timestamp"), F.col("__hi").cast("timestamp")
        base = F.to_timestamp(F.lit("1970-01-01"))
        step_sec = (F.unix_micros(base + F.expr(step)) - F.unix_micros(base)) / 1e6
        n_steps = (
            (F.unix_micros(hi) - F.unix_micros(lo)) / 1e6 / step_sec + 1
        ).cast("long")
        err = F.format_string(
            f"gap_fill: key (%s) spans %s -> %s ~= %s grid rows at step '{step}' "
            f"(> max_grid_rows_per_key={max_grid_rows_per_key}); check the step "
            "unit or raise/disable the guard",
            F.concat_ws(",", *[F.col(k).cast("string") for k in keys]),
            F.col("__lo").cast("string"),
            F.col("__hi").cast("string"),
            n_steps.cast("string"),
        )
        # the assert wraps the sequence expression itself (a bare guard
        # column would be pruned as dead by Catalyst): passing rows see
        # assert_true = NULL -> isNull -> sequence; failing rows raise
        # before generating anything
        seq = F.when(
            F.assert_true(n_steps <= max_grid_rows_per_key, err).isNull(),
            F.expr(f"sequence(__lo, __hi, {step})"),
        )
    else:
        seq = F.expr(f"sequence(__lo, __hi, {step})")
    grid = spans.select(*keys, F.explode(seq).alias(time_col))
    out = grid.join(df, keys + [time_col], "left")
    for c in zero_fill or []:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    if forward_fill:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(time_col).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in forward_fill:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def interpolate_linear(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    columns: list[str],
    round_to: int | None = 6,
) -> DataFrame:
    """Linear interpolation over an equally-spaced, gap-filled grid
    (pandas ``interpolate()`` parity; run :func:`gap_fill` first so one
    row per key × bucket exists): nulls between two known points take
    the straight-line value; leading/trailing nulls stay null (no
    extrapolation).

    Pure window arithmetic — known-neighbor values and positions via
    last/first IGNORE NULLS over preceding/following frames, one
    shuffle shared with the grid's partitioning. ``round_to`` keeps the
    float division cross-engine-stable.
    """
    order = F.col(time_col).asc()
    w_all = Window.partitionBy(*key_cols).orderBy(order)
    w_prev = w_all.rowsBetween(Window.unboundedPreceding, 0)
    w_next = w_all.rowsBetween(0, Window.unboundedFollowing)
    out = df.withColumn("__rn", F.row_number().over(w_all))
    for c in columns:
        known_rn = F.when(F.col(c).isNotNull(), F.col("__rn"))
        prev_v = F.last(c, ignorenulls=True).over(w_prev)
        next_v = F.first(c, ignorenulls=True).over(w_next)
        prev_x = F.last(known_rn, ignorenulls=True).over(w_prev)
        next_x = F.first(known_rn, ignorenulls=True).over(w_next)
        interp = prev_v + (next_v - prev_v) * (F.col("__rn") - prev_x) / (next_x - prev_x)
        if round_to is not None:
            interp = F.round(interp, round_to)
        out = out.withColumn(
            c,
            F.when(F.col(c).isNotNull(), F.col(c))
            .when(prev_v.isNull() | next_v.isNull(), F.lit(None))
            .otherwise(interp),
        )
    return out.drop("__rn")
