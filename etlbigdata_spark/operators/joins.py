"""Join family (SURVEY §2 A16, B9).

The reference has exactly one join: single-key equi-join with
left/inner/right/outer picked from a dropdown
(``/root/reference/simple_etl.py:322-351``).  Here the full family:
equi/semi/anti/cross (theta joins are a plain ``DataFrame.join`` on a
predicate) plus two CUSTOM compositions Spark lacks as built-ins —
as-of join and point-in-interval range join — both built to shuffle
once on the equi key rather than explode a range cross-product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

JOIN_TYPES = {"inner", "left", "right", "outer", "full", "left_semi", "left_anti", "cross"}


def join(
    left: DataFrame,
    right: DataFrame,
    left_on: str | list[str],
    right_on: str | list[str] | None = None,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """A16/B9 — equi-join on one or more key pairs.

    Both key columns are kept, matching the ref's observed Spark behavior
    (``simple_etl.py:340-342``).  ``broadcast_right=True`` adds the hint
    for dimension tables; otherwise Catalyst/AQE picks the strategy
    (sort-merge for fact-fact, broadcast under the size threshold).
    """
    if how not in JOIN_TYPES:
        raise ValueError(f"unknown join type {how!r}")
    left_keys = [left_on] if isinstance(left_on, str) else list(left_on)
    right_keys = left_keys if right_on is None else (
        [right_on] if isinstance(right_on, str) else list(right_on)
    )
    cond = None
    for lk, rk in zip(left_keys, right_keys):
        c = left[lk] == right[rk]
        cond = c if cond is None else (cond & c)
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, cond, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str | None = None,
    direction: str = "backward",
    right_prefix: str = "r_",
) -> DataFrame:
    """B9 CUSTOM — as-of join: for each left row, the nearest right row at
    or before (``backward``) / at or after (``forward``) its timestamp,
    within equal ``on`` keys.

    Spark-first plan (no built-in ASOF): tag and union both sides, then a
    single window pass per key carries the most recent right payload onto
    each left row.  ONE shuffle on the key — never the range-explosion a
    naive ``l.ts >= r.ts`` theta join produces, so it survives 100× scale
    (cf. DuckDB's native ``ASOF JOIN``, which the oracle uses).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts

    payload_cols = [c for c in right.columns if c not in keys]
    right_tagged = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__payload"),
    )
    left_tagged = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(right_tagged.schema["__payload"].dataType).alias("__payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    right_tagged = right_tagged.withColumn("__row", F.lit(None).cast(left_tagged.schema["__row"].dataType))

    unioned = left_tagged.unionByName(right_tagged)
    if direction == "backward":
        # right (tag 0) sorts before left at equal ts → inclusive match
        order = [F.col("__ts").asc(), F.col("__is_left").asc()]
    else:
        order = [F.col("__ts").desc(), F.col("__is_left").asc()]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    matched = unioned.withColumn("__match", F.last("__payload", ignorenulls=True).over(w))

    out = matched.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__row.{c}").alias(c) for c in left.columns],
        *[F.col(f"__match.{c}").alias(f"{right_prefix}{c}") for c in payload_cols],
    )
    return out


def asof_self_join(
    df: DataFrame,
    on: str | list[str],
    ts: str,
    left_pred,
    right_pred,
    payload_cols: str | list[str],
    direction: str = "backward",
    right_prefix: str = "r_",
) -> DataFrame:
    """B9 CUSTOM — as-of join of two filtered views of the SAME frame in
    ONE scan (clickstream attribution: "match each purchase to the latest
    click at or before it, per user").

    ``asof_join(df.filter(a), df.filter(b), ...)`` reads the source
    twice, pre-aggregates the right side, and unions the scans back
    together — Spark does not deduplicate common scan subtrees.  Here the
    left/right split is a tag computed IN the one scan's projection, so
    the whole join is scan → shuffle on ``on`` → one window pass: the
    cheapest plan an as-of over a single event table admits, at any
    scale.  Rows matching neither predicate are dropped; predicates
    should be disjoint (a row matching both is treated as left).

    Ties among right rows at equal (key, ts) resolve to the GREATEST
    payload struct (fields compared in ``payload_cols`` order) —
    equivalent to pre-aggregating ``max(payload)`` per (key, ts), but
    without the extra aggregation exchange.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    keys = [on] if isinstance(on, str) else list(on)
    pcols = [payload_cols] if isinstance(payload_cols, str) else list(payload_cols)

    tagged = df.withColumn(
        "__is_left",
        F.when(left_pred, F.lit(1)).when(right_pred, F.lit(0)),
    ).filter(F.col("__is_left").isNotNull())
    payload = F.when(
        F.col("__is_left") == 0, F.struct(*[F.col(c) for c in pcols])
    ).alias("__payload")
    slim = tagged.select(*keys, F.col(ts).alias("__ts"), "__is_left", payload,
                         *[c for c in df.columns if c not in keys and c != ts])

    if direction == "backward":
        # right (tag 0) sorts before left at equal ts → inclusive match;
        # among equal-ts rights, payload asc so last() takes the max
        order = [F.col("__ts").asc(), F.col("__is_left").asc(), F.col("__payload").asc()]
    else:
        order = [F.col("__ts").desc(), F.col("__is_left").asc(), F.col("__payload").asc()]
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    matched = slim.withColumn("__match", F.last("__payload", ignorenulls=True).over(w))

    out_cols = (
        [F.col(k) for k in keys]
        + [F.col("__ts").alias(ts)]
        + [F.col(c) for c in df.columns if c not in keys and c != ts]
        + [F.col(f"__match.{c}").alias(f"{right_prefix}{c}") for c in pcols]
    )
    return matched.filter(F.col("__is_left") == 1).select(*out_cols)


def scd2_join(
    facts: DataFrame,
    history: DataFrame,
    on: str | list[str],
    fact_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    dim_prefix: str = "dim_",
) -> DataFrame:
    """B9 × CDC (round 6) — point-in-time (effective-dated) dimension
    join: each fact row picks up the history row whose validity interval
    ``[valid_from, valid_to)`` contains ``fact_ts`` — the consumption
    side of :func:`~etlbigdata_spark.operators.cleaning.scd2_history`
    ("what did this dimension look like WHEN the fact happened").
    Left-join semantics: facts before the key's first interval or in a
    coverage gap keep NULL dim columns.

    Plan: the as-of union+window trick (ONE shuffle on the key) rather
    than the naive fact×history interval theta join, which Spark can
    only run as a broadcast nested loop / cartesian at scale.  Because
    SCD2 intervals tile half-open per key, the containing interval IS
    the latest interval starting at or before the fact — an as-of
    backward match plus a ``valid_to`` bound check for gap histories.
    Zero-length intervals (``valid_from == valid_to``, produced by
    tied-timestamp change bursts) are dropped first: they can never
    contain a point, and removing them makes the equal-timestamp
    window order deterministic.
    """
    keys = [on] if isinstance(on, str) else list(on)
    hist = history.filter(
        F.col(valid_to).isNull() | (F.col(valid_to) > F.col(valid_from))
    )
    matched = asof_join(
        facts, hist, keys, left_ts=fact_ts, right_ts=valid_from,
        direction="backward", right_prefix=dim_prefix,
    )
    vt = F.col(f"{dim_prefix}{valid_to}")
    in_interval = vt.isNull() | (vt > F.col(fact_ts))
    payload = [c for c in hist.columns if c not in keys]
    return matched.select(
        *[F.col(c) for c in facts.columns],
        *[
            F.when(in_interval, F.col(f"{dim_prefix}{c}")).alias(f"{dim_prefix}{c}")
            for c in payload
        ],
    )


def _explode_buckets(df: DataFrame, lower: str, upper: str, width: int) -> DataFrame:
    """Explode an interval row to every ``width``-wide bucket it touches
    — the shared blocking step of :func:`range_join` and
    :func:`interval_overlap_join`.  Skew caveat lives here once: a
    single giant interval explodes to ~len/width rows; cap or split
    such outliers upstream."""
    return df.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lower) / width), F.floor(F.col(upper) / width)
            )
        ),
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_point: str,
    right_lower: str,
    right_upper: str,
    bucket_width: int,
) -> DataFrame:
    """B9 CUSTOM — point-in-interval join: left.point ∈ [right.lower,
    right.upper] within equal keys.

    Both sides are bucketed to ``floor(x / bucket_width)`` — intervals
    explode to the buckets they overlap via ``sequence`` — so the match is
    an equi-join on (key, bucket) plus a residual filter.  Turns an
    unbounded theta join into a shuffle-bounded equi-join; pick
    ``bucket_width`` near the typical interval length so the explosion
    factor stays ~2.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lb = F.floor(F.col(left_point) / bucket_width).alias("__bucket")
    left_b = left.withColumn("__bucket", F.floor(F.col(left_point) / bucket_width))
    right_b = _explode_buckets(right, right_lower, right_upper, bucket_width)
    cond = [left_b[k] == right_b[k] for k in keys] + [left_b["__bucket"] == right_b["__bucket"]]
    joined = left_b.join(right_b, cond)
    out = joined.filter(
        (F.col(left_point) >= F.col(right_lower)) & (F.col(left_point) <= F.col(right_upper))
    )
    drop = ["__bucket"] + keys
    return out.drop(right_b["__bucket"]).drop(left_b["__bucket"]).drop(*[right_b[k] for k in keys])


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_lower: str,
    left_upper: str,
    right_lower: str,
    right_upper: str,
    bucket_width: int,
) -> DataFrame:
    """B9 CUSTOM — interval × interval OVERLAP join: pairs whose ranges
    intersect (``l.lower ≤ r.upper AND r.lower ≤ l.upper``) within
    equal keys — the session-vs-outage / reservation-conflict /
    genomic-interval primitive :func:`range_join` (point-in-interval)
    cannot express.

    Same bucketing discipline as range_join, applied to BOTH sides:
    each interval explodes to the ``bucket_width``-wide buckets it
    touches, the match is an equi-join on (key, bucket) + the residual
    overlap predicate — never a theta join.  A pair overlapping k
    common buckets would meet k times, so the join is restricted to the
    MEETING bucket — the bucket of ``greatest(l.lower, r.lower)``,
    which both sides cover by construction — making each qualifying
    pair meet EXACTLY once with no distinct pass.  Pick bucket_width
    near the typical interval length: the per-row explosion factor is
    ~len/width + 1 on each side, and cost follows true bucket
    co-occupancy (document skew: a single giant interval explodes to
    many buckets — cap or split such outliers upstream)."""
    keys = [on] if isinstance(on, str) else list(on)
    lb = _explode_buckets(left, left_lower, left_upper, bucket_width)
    rb = _explode_buckets(right, right_lower, right_upper, bucket_width)
    cond = [lb[k] == rb[k] for k in keys] + [lb["__bucket"] == rb["__bucket"]]
    joined = lb.join(rb, cond)
    # bounds qualified through the join inputs: both sides may use the
    # SAME bound names (sessions/outages both say start/end) and
    # unqualified F.col would be AMBIGUOUS_REFERENCE here
    overlap = (lb[left_lower] <= rb[right_upper]) & (
        rb[right_lower] <= lb[left_upper]
    )
    meeting = F.floor(
        F.greatest(lb[left_lower], rb[right_lower]) / bucket_width
    )
    out = joined.filter(overlap & (lb["__bucket"] == meeting))
    return (
        out.drop(rb["__bucket"]).drop(lb["__bucket"]).drop(*[rb[k] for k in keys])
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """B9 CUSTOM — edit-distance (Levenshtein ≤ k) join with LOSSLESS
    length-band blocking.

    An edit distance ≤ k forces ``|len(a) − len(b)| ≤ k``, so the left
    side explodes each value into the 2k+1 length blocks it can match
    and the right side keys on its own length: the match becomes an
    equi-join on the block id plus a residual ``levenshtein`` filter.
    Each candidate pair meets EXACTLY once (the right length is a single
    block), no distinct needed. Turns the all-pairs quadratic scan into
    a shuffle bounded by length-band co-occurrence — the same
    block-then-verify shape as the MinHash/SimHash dedup family; for
    corpora where single length bands are still huge, pre-restrict with
    an additional blocking key (first token, phonetic key) before
    calling. ``levenshtein`` agrees exactly with DuckDB's, so results
    are oracle-checkable.
    """
    k = max_distance
    lb = left.withColumn(
        "__blk",
        F.explode(
            F.sequence(F.length(left_col) - F.lit(k), F.length(left_col) + F.lit(k))
        ),
    )
    rb = right.withColumn("__blk", F.length(right_col))
    return (
        lb.join(rb, "__blk")
        .withColumn("distance", F.levenshtein(F.col(left_col), F.col(right_col)))
        .filter(F.col("distance") <= k)
        .drop("__blk")
    )


def fuzzy_self_pairs(
    df: DataFrame, text_col: str, max_distance: int = 2
) -> DataFrame:
    """B9/B23 — near-identical string pairs within one column (typo
    dedup over names/titles): distinct values, length-band blocked
    self-join, ordered output (value_a < value_b) so each unordered pair
    appears once."""
    vals = df.select(F.col(text_col).alias("value_a")).distinct()
    right = vals.select(F.col("value_a").alias("value_b"))
    return fuzzy_join(vals, right, "value_a", "value_b", max_distance).filter(
        F.col("value_a") < F.col("value_b")
    )
