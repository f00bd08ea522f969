"""Per-operator unit tests (SURVEY §5.2 item 1): small literal frames,
edge cases — nulls, empty inputs, ties, boundaries."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from etlbigdata_spark.functions import text as ftext
from etlbigdata_spark.operators import aggregates, cleaning, joins, pivot, setops
from etlbigdata_spark.plans.audit import audit, walk


# -- cleaning (Part A) -------------------------------------------------
def test_fill_nulls_type_dispatch(spark):
    df = spark.createDataFrame(
        [("a", 1.0), (None, None)], "s string, x double"
    )
    out = {tuple(r) for r in cleaning.fill_nulls(df, "N/A", 0).collect()}
    assert out == {("a", 1.0), ("N/A", 0.0)}


def test_replace_value_typed_comparison(spark):
    """The ref string-compares against numeric columns (simple_etl.py:225);
    we cast the literal to the column type — '1' still matches int 1."""
    df = spark.createDataFrame([(1,), (2,)], "x int")
    out = sorted(r.x for r in cleaning.replace_value(df, "x", "1", "9").collect())
    assert out == [2, 9]


def test_replace_value_null_safe(spark):
    df = spark.createDataFrame([Row(x="a"), Row(x=None)], "x string")
    out = {r.x for r in cleaning.replace_value(df, "x", None, "filled").collect()}
    assert out == {"a", "filled"}


def test_split_column_regex_delimiter(spark):
    df = spark.createDataFrame([("a1b22c",)], "s string")
    out = cleaning.split_column(df, "s", r"\d+", n_parts=3).collect()[0]
    assert (out.s_1, out.s_2, out.s_3) == ("a", "b", "c")


def test_split_column_missing_part_is_null(spark):
    df = spark.createDataFrame([("only",)], "s string")
    out = cleaning.split_column(df, "s", "-", n_parts=2).collect()[0]
    assert out.s_1 == "only" and out.s_2 is None


def test_merge_columns_skips_nulls(spark):
    df = spark.createDataFrame([("a", None, "c")], "x string, y string, z string")
    out = cleaning.merge_columns(df, ["x", "y", "z"], "|", "m").collect()[0]
    assert out.m == "a|c"  # concat_ws null-skip (SURVEY §2 A14)


def test_cast_column_null_on_error(spark):
    df = spark.createDataFrame([("12",), ("oops",)], "s string")
    out = [r.s for r in cleaning.cast_column(df, "s", "integer").collect()]
    assert sorted(x for x in out if x is not None) == [12] and None in out


def test_cast_column_date_format(spark):
    df = spark.createDataFrame([("05/01/2024",)], "d string")
    out = cleaning.cast_column(df, "d", "date", date_format="dd/MM/yyyy").collect()[0]
    assert str(out.d) == "2024-01-05"


def test_cast_rejects_unknown_type(spark):
    df = spark.createDataFrame([("x",)], "s string")
    with pytest.raises(ValueError, match="unsupported cast type"):
        cleaning.cast_column(df, "s", "tensor")


def test_transpose_small_table(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    out = cleaning.transpose(df.orderBy("k"))
    rows = {r["column"]: (r["row_0"], r["row_1"]) for r in out.collect()}
    assert rows == {"k": ("1", "2"), "v": ("a", "b")}


def test_transpose_guard(spark):
    with pytest.raises(ValueError, match="driver"):
        cleaning.transpose(spark.range(100), max_rows=10)


def test_dedup_count(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    out, removed = cleaning.dedup_count(df)
    assert removed == 1 and out.count() == 2


# -- set ops -----------------------------------------------------------
def test_union_all_aligns_by_name_and_null_fills(spark):
    a = spark.createDataFrame([(1, "x")], "k int, a string")
    b = spark.createDataFrame([("y", 2)], "b string, k int")
    out = setops.union_all([a, b]).collect()
    by_k = {r.k: r for r in out}
    assert by_k[1].a == "x" and by_k[1].b is None
    assert by_k[2].b == "y" and by_k[2].a is None  # pandas-concat semantics (A6)


def test_union_all_requires_two(spark):
    with pytest.raises(ValueError):
        setops.union_all([spark.range(1)])


def test_intersect_all_keeps_multiplicity(spark):
    a = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    b = spark.createDataFrame([(1,), (1,)], "x int")
    assert setops.intersect(a, b, keep_duplicates=True).count() == 2
    assert setops.intersect(a, b).count() == 1


# -- joins -------------------------------------------------------------
def test_join_multi_key(spark):
    l = spark.createDataFrame([(1, "a", 10)], "k1 int, k2 string, v int")
    r = spark.createDataFrame([(1, "a", 99), (1, "b", 0)], "j1 int, j2 string, w int")
    out = joins.join(l, r, ["k1", "k2"], ["j1", "j2"]).collect()
    assert len(out) == 1 and out[0].w == 99


def test_join_rejects_unknown_how(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        joins.join(df, df, "id", how="sideways")


def test_asof_backward_inclusive_and_nulls(spark):
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 5, "p2"), (2, 3, "p3")], "uid int, t int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 8, 200.0), (3, 1, 999.0)], "uid int, t int, px double"
    )
    out = joins.asof_join(left, right, on="uid", left_ts="t")
    by_tag = {r.tag: r.r_px for r in out.collect()}
    assert by_tag == {"p1": 200.0, "p2": 100.0, "p3": None}  # t=5 matches inclusively; uid 2 has no match


def test_asof_forward(spark):
    left = spark.createDataFrame([(1, 4, "a")], "uid int, t int, tag string")
    right = spark.createDataFrame([(1, 3, 1.0), (1, 6, 2.0)], "uid int, t int, px double")
    out = joins.asof_join(left, right, on="uid", left_ts="t", direction="forward").collect()
    assert out[0].r_px == 2.0  # nearest at-or-after


def test_range_join_boundaries(spark):
    pts = spark.createDataFrame([("k", 0), ("k", 10), ("k", 11), ("k", 25)], "g string, p int")
    ivs = spark.createDataFrame([("k", 0, 10), ("k", 20, 30)], "g string, lo int, hi int")
    out = joins.range_join(pts, ivs, on="g", left_point="p", right_lower="lo", right_upper="hi", bucket_width=7)
    got = sorted((r.p, r.lo) for r in out.collect())
    assert got == [(0, 0), (10, 0), (25, 20)]  # inclusive both ends; 11 unmatched


# -- aggregates / pivot ------------------------------------------------
def test_group_agg_and_unknown_fn(spark):
    df = spark.createDataFrame([("a", 1), ("a", 3), ("b", 5)], "g string, v int")
    out = aggregates.group_agg(df, ["g"], {"total": ("sum", "v"), "n": ("count", "v")})
    assert {(r.g, r.total, r.n) for r in out.collect()} == {("a", 4, 2), ("b", 5, 1)}
    with pytest.raises(ValueError):
        aggregates.group_agg(df, ["g"], {"x": ("median_of_medians", "v")})


def test_top_k_per_group_ties_deterministic(spark):
    df = spark.createDataFrame([("g", 1, 5), ("g", 2, 5), ("g", 3, 1)], "g string, id int, v int")
    out = aggregates.top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], k=1)
    assert [r.id for r in out.collect()] == [1]


def test_pivot_unpivot_roundtrip(spark):
    df = spark.createDataFrame(
        [("r1", "a", 1), ("r1", "b", 2), ("r2", "a", 3)], "k string, c string, v int"
    )
    wide = pivot.pivot(df, ["k"], "c", "v", agg="sum", values=["a", "b"])
    long = pivot.unpivot(wide, ["k"], ["a", "b"], "c", "v").filter(F.col("v").isNotNull())
    assert {tuple(r) for r in long.collect()} == {tuple(r) for r in df.collect()}


# -- text functions ----------------------------------------------------
def test_tokens_and_counts(spark):
    df = spark.createDataFrame([("Hello  world foo",), ("",)], "text string")
    out = df.select(
        F.size(ftext.tokens_col("text")).alias("n"),
        ftext.token_count_col(F.col("text")).alias("t"),
    ).collect()
    assert (out[0].n, out[0].t) == (3, 3)
    assert (out[1].n, out[1].t) == (0, 0)


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is in that house",),
         ("el perro y la casa de los gatos en madrid",),
         ("zzz qqq xxx",)],
        "text string",
    )
    out = [r.lang_pred for r in ftext.language_id(df, "text").collect()]
    assert out == ["en", "es", "und"]


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], "text string")
    for method in ("xxhash64", "rolling"):
        fps = [
            r.fingerprint
            for r in ftext.add_fingerprint(df, "text", method=method).collect()
        ]
        assert fps[0] == fps[1] != fps[2], method
    # rolling face: known polynomial value for "abc" = ((97*31)+98)*31+99
    roll = ftext.add_fingerprint(df, "text", method="rolling").collect()[0]
    assert roll.fingerprint == ((97 * 31 + 98) * 31 + 99) % 1_000_000_007
    # production face stays codegen: no interpreted ArrayAggregate fold
    prod = ftext.add_fingerprint(df, "text")
    assert audit(prod).hof_folds == 0
    assert any("xxhash64" in n.text.lower() for n in walk(prod))
    with pytest.raises(ValueError, match="unknown fingerprint"):
        ftext.add_fingerprint(df, "text", method="nope")


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "solo"), (4, "")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in ftext.repetition_stats(df).collect()}
    # doc 1: 4 tokens, 2 distinct -> dup 0.5; bigrams "a a","a a","a b" -> 2/3
    assert out[1].n_tokens == 4 and out[1].dup_word_frac == 0.5
    assert out[1].top_bigram_share == round(2 / 3, 6)
    # doc 2: no repetition
    assert out[2].dup_word_frac == 0.0 and out[2].top_bigram_share == round(1 / 2, 6)
    # doc 3: single token -> no bigrams -> null share, zero dup
    assert out[3].dup_word_frac == 0.0 and out[3].top_bigram_share is None
    # doc 4: empty -> 0 tokens, null metrics, no crash
    assert out[4].n_tokens == 0 and out[4].dup_word_frac is None


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("the cat and the dog sat for it was warm",), ("!!!",)], "text string"
    )
    out = [r.quality for r in ftext.quality_score(df, "text").collect()]
    assert out[0] == 1.0
    assert 0.0 <= out[1] < out[0]


def test_hll_sketch_counts_close_to_exact(spark, sf_dir):
    """B5 — DataSketches HLL estimates land within the sketch's error
    bound (lg_k=12 → ~1.6% RSE; 5% is a generous 3-sigma gate)."""
    from pyspark.sql import functions as F

    from etlbigdata_spark.operators import aggregates

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("a"), F.countDistinct("l_partkey").alias("b")
    ).collect()[0]
    est = aggregates.hll_sketch_counts(li, ["l_orderkey", "l_partkey"]).collect()[0]
    assert abs(est["n_l_orderkey"] - exact["a"]) <= 0.05 * exact["a"]
    assert abs(est["n_l_partkey"] - exact["b"]) <= 0.05 * exact["b"]


def test_hll_merge_equals_direct_within_tolerance(spark, sf_dir):
    """B5 — the mergeability property: per-slice sketches unioned then
    estimated ≈ one sketch over everything (and both ≈ exact).  This is
    the 100 TB distinct-count path: KB-sized per-partition state,
    associative merge, no re-scan."""
    from pyspark.sql import functions as F

    from etlbigdata_spark.operators import aggregates

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.agg(F.countDistinct("l_orderkey").alias("a")).collect()[0]["a"]
    direct = aggregates.hll_sketch_counts(li, ["l_orderkey"]).collect()[0]["n_l_orderkey"]
    merged = aggregates.hll_merge_counts(li, "l_returnflag", "l_orderkey").collect()[0][
        "n_l_orderkey"
    ]
    assert abs(merged - exact) <= 0.05 * exact
    assert abs(merged - direct) <= 0.02 * max(direct, 1)


def test_asof_join_edge_cases(spark):
    """B9 as-of: empty right side keeps every left row null-matched;
    an equal-timestamp right row IS an inclusive backward match; a key
    with no right rows never borrows another key's payload."""
    import datetime as dt

    from etlbigdata_spark.operators import joins

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(5), "a"), (1, t(10), "b"), (2, t(7), "c")], "k int, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, t(5), 100.0), (1, t(8), 200.0)], "k int, ts timestamp, px double"
    )
    out = {
        (r.k, r.tag): r.r_px
        for r in joins.asof_join(left, right, "k", "ts").collect()
    }
    assert out[(1, "a")] == 100.0  # equal ts matches inclusively
    assert out[(1, "b")] == 200.0  # most recent at-or-before
    assert out[(2, "c")] is None   # no right rows for key 2 → null, not borrowed

    empty_right = right.limit(0)
    out2 = joins.asof_join(left, empty_right, "k", "ts").collect()
    assert len(out2) == 3 and all(r.r_px is None for r in out2)


def test_asof_join_forward_direction(spark):
    """Forward as-of: nearest right row at or after the left timestamp."""
    import datetime as dt

    from etlbigdata_spark.operators import joins

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    left = spark.createDataFrame([(1, t(6), "a")], "k int, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, t(5), 1.0), (1, t(9), 2.0)], "k int, ts timestamp, px double"
    )
    out = joins.asof_join(left, right, "k", "ts", direction="forward").collect()
    assert out[0].r_px == 2.0  # t(5) is before, t(9) is the at-or-after match


def test_approx_percentile_within_rank_error_of_exact(spark, sf_dir):
    """b28a — the GK sketch guarantees rank error <= 1/accuracy: for each
    group and each p, the approximate value must lie between the EXACT
    quantiles at p-eps and p+eps (eps widened to 1e-3 for slack; the
    sketch runs at accuracy=10000).  This is the b05/b05h pattern: the
    approximate scale path is bound-checked against the exact path
    instead of hash-checked against an oracle."""
    import os

    from etlbigdata_spark import workload

    approx = {
        r["l_returnflag"]: r for r in workload.b28a_approx_percentile(spark, sf_dir).collect()
    }
    li = workload.load(spark, sf_dir, "lineitem")
    eps = 1e-3
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5 - eps).alias("p50_lo"),
        F.percentile("l_quantity", 0.5 + eps).alias("p50_hi"),
        F.percentile("l_quantity", 0.9 - eps).alias("p90_lo"),
        F.percentile("l_quantity", 0.9 + eps).alias("p90_hi"),
        F.percentile("l_extendedprice", 0.5 - eps).alias("med_lo"),
        F.percentile("l_extendedprice", 0.5 + eps).alias("med_hi"),
    )
    for b in bounds.collect():
        a = approx[b["l_returnflag"]]
        assert b["p50_lo"] <= a["p50_qty"] <= b["p50_hi"], (b["l_returnflag"], "p50")
        assert b["p90_lo"] <= a["p90_qty"] <= b["p90_hi"], (b["l_returnflag"], "p90")
        assert b["med_lo"] <= a["med_price"] <= b["med_hi"], (b["l_returnflag"], "med")


# -- corpus curation (functions/corpus) --------------------------------
def test_hash_split_total_and_stability(spark, sf_dir):
    """Split is exhaustive (every row labeled), proportions follow the
    hex-bucket spec, and labels are content-addressed: recomputing after
    a repartition yields the identical assignment."""
    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import corpus as fcorpus

    docs = workload.load(spark, sf_dir, "documents")
    lab = fcorpus.hash_split(docs, "doc_id")
    assert lab.filter(F.col("split").isNull()).count() == 0
    a = {r["doc_id"]: r["split"] for r in lab.select("doc_id", "split").collect()}
    relab = fcorpus.hash_split(docs.repartition(7), "doc_id")
    b = {r["doc_id"]: r["split"] for r in relab.select("doc_id", "split").collect()}
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}


def test_hash_split_rejects_bad_spec(spark):
    from etlbigdata_spark.functions import corpus as fcorpus

    df = spark.createDataFrame([(1,)], "doc_id int")
    with pytest.raises(ValueError):
        fcorpus.hash_split(df, "doc_id", buckets={"train": 10, "val": 2})


def test_shuffle_shards_deterministic_and_reshard_stable(spark, sf_dir):
    """Round-11 (t24): the training-order shuffle is content-addressed —
    (a) shard + order key identical under any input partitioning (the
    t07 discipline); (b) same seed replays the identical permutation,
    a different seed yields a different one; (c) materialize=True lands
    each shard in its own partition sorted in replay order; (d) every
    row keeps exactly one shard in [0, n_shards)."""
    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import corpus as fcorpus

    docs = workload.load(spark, sf_dir, "documents").select("doc_id").limit(200)
    lab = fcorpus.shuffle_shards(docs, "doc_id", n_shards=8, seed=1, materialize=False)
    a = {r["doc_id"]: (r["out_shard"], r["order_key"]) for r in lab.collect()}
    relab = fcorpus.shuffle_shards(
        docs.repartition(7), "doc_id", n_shards=8, seed=1, materialize=False
    )
    b = {r["doc_id"]: (r["out_shard"], r["order_key"]) for r in relab.collect()}
    assert a == b and len(a) == 200
    assert all(0 <= s < 8 for s, _k in a.values())
    other = {
        r["doc_id"]: (r["out_shard"], r["order_key"])
        for r in fcorpus.shuffle_shards(
            docs, "doc_id", n_shards=8, seed=2, materialize=False
        ).collect()
    }
    assert other != a  # a new seed is a fresh permutation
    # materialized layout: hash partitioning may co-locate two shard
    # values in one task, but rows must be contiguous per shard and in
    # (shard, key, id) replay order within every partition
    mat = fcorpus.shuffle_shards(docs, "doc_id", n_shards=8, seed=1)
    parts = mat.select("out_shard", "order_key", "doc_id").rdd.glom().collect()
    seen = []
    for p in parts:
        keys = [(r["out_shard"], r["order_key"], r["doc_id"]) for r in p]
        assert keys == sorted(keys), "partition not in replay order"
        seen.extend(r["doc_id"] for r in p)
    assert sorted(seen) == sorted(a)  # nothing lost or duplicated


def test_mixture_sample_monotone_and_stable(spark, sf_dir):
    """Raising a source's rate strictly grows its kept set (the property
    incremental mix re-weights rely on); rate 0 keeps nothing, rate 1
    keeps everything; assignment is content-addressed (repartition-
    stable); and the salted hash is independent of hash_split — at
    rate 0.5 every split must still be represented (the unsalted hash
    would empty val/test, whose buckets are the top 3/16 of digit 1)."""
    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import corpus as fcorpus

    docs = workload.load(spark, sf_dir, "documents")
    ids = lambda df: {r["doc_id"] for r in df.select("doc_id").collect()}  # noqa: E731
    lo = ids(fcorpus.mixture_sample(docs, {"src0": 0.3}, default_rate=0.3))
    hi = ids(fcorpus.mixture_sample(docs, {"src0": 0.6}, default_rate=0.6))
    assert lo < hi  # strict: monotone in rate and genuinely growing
    assert ids(fcorpus.mixture_sample(docs, {}, default_rate=0.0)) == set()
    assert ids(fcorpus.mixture_sample(docs, {}, default_rate=1.0)) == ids(docs)
    again = ids(fcorpus.mixture_sample(docs.repartition(7), {"src0": 0.3}, default_rate=0.3))
    assert again == lo
    kept_half = fcorpus.mixture_sample(docs, {}, default_rate=0.5)
    splits = {
        r["split"] for r in fcorpus.hash_split(kept_half, "doc_id").select("split").collect()
    }
    assert splits == {"train", "val", "test"}


def test_mixture_sample_rejects_bad_rate(spark):
    from etlbigdata_spark.functions import corpus as fcorpus

    df = spark.createDataFrame([(1, "a")], "doc_id int, source string")
    with pytest.raises(ValueError):
        fcorpus.mixture_sample(df, {"a": 1.5})
    with pytest.raises(ValueError):
        fcorpus.mixture_sample(df, {}, default_rate=-0.1)


def test_quota_sample_prefilter_lossless_when_active(spark, sf_dir):
    """k=3, safety=2 over ~100-doc language groups: keep_frac ≈ 6 % so
    the hash prefilter is genuinely cutting rows; the result must still
    equal the plain unfiltered window top-k."""
    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import corpus as fcorpus
    from pyspark.sql import Window

    docs = workload.load(spark, sf_dir, "documents")
    got = {
        (r["lang"], r["doc_id"])
        for r in fcorpus.quota_sample(docs, "lang", 3, "doc_id", prefilter_safety=2).collect()
    }
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    want = {
        (r["lang"], r["doc_id"])
        for r in docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id")
        .collect()
    }
    assert got == want
    # quota respected per group
    assert len(got) == docs.select("lang").distinct().count() * 3


def test_redact_pii_counts_and_replaces(spark):
    from etlbigdata_spark.functions import corpus as fcorpus

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d@e.org, call +1-555-1234"),
            (2, "no pii here"),
            (3, None),
        ],
        "id int, text string",
    )
    out = {r["id"]: r for r in fcorpus.redact_pii(df, "text").collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_phone"] == 1
    assert out[1]["redacted"] == "mail [EMAIL] and [EMAIL], call [PHONE]"
    assert out[2]["n_email"] == 0 and out[2]["redacted"] == "no pii here"
    assert out[3]["redacted"] is None


def test_contamination_report_hand_checked(spark):
    """3-token docs = exactly one 3-gram each: doc 10 duplicates the
    benchmark shingle (ratio 1.0), doc 11 shares nothing, doc 12 is too
    short for any shingle and must be absent, not divide-by-zero."""
    from etlbigdata_spark.functions import corpus as fcorpus

    bench = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id int, text string")
    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "delta epsilon zeta"), (12, "too short")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in
            fcorpus.contamination_report(corpus, bench, min_overlap_ratio=0.0).collect()}
    assert rows[10]["overlap_ratio"] == 1.0 and rows[10]["n_overlap"] == 1
    assert rows[11]["n_overlap"] == 0
    assert 12 not in rows


# -- MERGE / upsert ---------------------------------------------------
def _merge_fixtures(spark):
    target = spark.createDataFrame(
        [Row(k=1, v="a", amt=10.0), Row(k=2, v="b", amt=20.0), Row(k=3, v="c", amt=30.0)]
    )
    source = spark.createDataFrame(
        [Row(k=2, v="B2", amt=200.0), Row(k=4, v="d", amt=40.0)]
    )
    return target, source


def test_merge_upsert_updates_inserts_keeps(spark):
    from etlbigdata_spark.operators import merge as fmerge

    target, source = _merge_fixtures(spark)
    out = {r.k: (r.v, r.amt) for r in fmerge.merge_upsert(target, source, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B2", 200.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_update_cols_subset(spark):
    from etlbigdata_spark.operators import merge as fmerge

    target, source = _merge_fixtures(spark)
    out = {r.k: (r.v, r.amt) for r in
           fmerge.merge_upsert(target, source, ["k"], update_cols=["amt"]).collect()}
    # matched row 2 takes only amt from source; insert row 4 still gets
    # its source v (there is no target value to keep)
    assert out[2] == ("b", 200.0) and out[4] == ("d", 40.0) and out[1] == ("a", 10.0)


def test_merge_upsert_delete_condition(spark):
    from etlbigdata_spark.operators import merge as fmerge

    target, source = _merge_fixtures(spark)
    out = fmerge.merge_upsert(
        target, source, ["k"], delete_condition=F.col("s.amt") > 100
    )
    ks = {r.k for r in out.collect()}
    assert ks == {1, 3, 4}  # matched k=2 deleted; insert k=4 unaffected


def test_merge_upsert_null_safe_keys(spark):
    from etlbigdata_spark.operators import merge as fmerge

    target = spark.createDataFrame([Row(k=None, v="t-null"), Row(k=1, v="one")], "k int, v string")
    source = spark.createDataFrame([Row(k=None, v="s-null")], "k int, v string")
    out = {r.k: r.v for r in fmerge.merge_upsert(target, source, ["k"]).collect()}
    assert out == {None: "s-null", 1: "one"}  # null key MATCHES null key


def test_merge_upsert_rejects_bad_args(spark):
    from etlbigdata_spark.operators import merge as fmerge

    target, source = _merge_fixtures(spark)
    with pytest.raises(ValueError, match="merge keys"):
        fmerge.merge_upsert(target, source.drop("k"), ["k"])
    with pytest.raises(ValueError, match="update_cols"):
        fmerge.merge_upsert(target, source, ["k"], update_cols=["nope"])


def test_scd2_history_semantics(spark):
    """CDC stream → SCD2 intervals: heartbeats collapse to change
    points, intervals chain, the open interval is current, and
    null↔value transitions count as changes (null-safe compare)."""
    from etlbigdata_spark.operators import cleaning

    rows = [
        (1, 10, "a"), (1, 20, "a"),      # heartbeat: collapses
        (1, 30, "b"), (1, 40, None),     # b -> null is a change
        (1, 50, None),                   # null heartbeat: collapses
        (2, 15, "x"),
    ]
    df = spark.createDataFrame(rows, "k int, ts int, v string")
    out = cleaning.scd2_history(df, ["k"], "ts", ["v"])
    got = {(r.k, r.valid_from): (r.v, r.valid_to, r.is_current) for r in out.collect()}
    assert got == {
        (1, 10): ("a", 30, False),
        (1, 30): ("b", 40, False),
        (1, 40): (None, None, True),
        (2, 15): ("x", None, True),
    }
    # collapse off: every version becomes its own interval
    full = cleaning.scd2_history(df, ["k"], "ts", ["v"], collapse_unchanged=False)
    assert full.count() == 6
    assert full.filter(F.col("is_current")).count() == 2


def test_keep_latest_deterministic_winner(spark):
    from etlbigdata_spark.operators import cleaning

    df = spark.createDataFrame(
        [Row(k=1, ver=1, v="old"), Row(k=1, ver=3, v="new"), Row(k=1, ver=2, v="mid"),
         Row(k=2, ver=5, v="only")]
    )
    out = {r.k: (r.ver, r.v) for r in
           cleaning.keep_latest(df, ["k"], [F.col("ver").desc()]).collect()}
    assert out == {1: (3, "new"), 2: (5, "only")}


def test_fuzzy_join_blocking_is_lossless(spark):
    from etlbigdata_spark.operators import joins as fjoins

    left = spark.createDataFrame([Row(a="kitten")])
    right = spark.createDataFrame(
        [Row(b="sitting"), Row(b="kitten"), Row(b="mitten"), Row(b="unrelated")]
    )
    # levenshtein(kitten, sitting) = 3: found at k=3, blocked-out at k=2
    got3 = {r.b for r in fjoins.fuzzy_join(left, right, "a", "b", max_distance=3).collect()}
    assert got3 == {"sitting", "kitten", "mitten"}
    got2 = {r.b for r in fjoins.fuzzy_join(left, right, "a", "b", max_distance=2).collect()}
    assert got2 == {"kitten", "mitten"}


def test_fuzzy_self_pairs_each_pair_once(spark):
    from etlbigdata_spark.operators import joins as fjoins

    df = spark.createDataFrame([Row(t="abc"), Row(t="abd"), Row(t="abc"), Row(t="xyz")])
    rows = fjoins.fuzzy_self_pairs(df, "t", max_distance=1).collect()
    assert [(r.value_a, r.value_b, r.distance) for r in rows] == [("abc", "abd", 1)]


# -- data-quality checks ----------------------------------------------
def test_dq_rules_single_pass_semantics(spark):
    from etlbigdata_spark.operators import quality as dq

    df = spark.createDataFrame(
        [Row(k=1, v=5.0, s="ok"), Row(k=1, v=50.0, s="bad"), Row(k=2, v=None, s=None)]
    )
    rep = {r.rule: (r.n_violations, r.passed) for r in dq.run_checks(df, [
        dq.not_null("v"),
        dq.unique("k"),
        dq.in_range("v", 0, 10),        # null v passes (not_null's job)
        dq.accepted_values("s", ["ok"]),  # null s passes
        dq.expression("v_under_100", F.col("v") < 100),
    ]).collect()}
    assert rep["not_null:v"] == (1, False)
    assert rep["unique:k"] == (1, False)
    assert rep["in_range:v"] == (1, False)      # only 50.0 violates
    assert rep["accepted_values:s"] == (1, False)  # only "bad"
    assert rep["v_under_100"] == (0, True)


def test_dq_unique_multi_column(spark):
    from etlbigdata_spark.operators import quality as dq

    df = spark.createDataFrame([Row(a=1, b=1), Row(a=1, b=2), Row(a=1, b=2)])
    rep = dq.run_checks(df, [dq.unique("a", "b")]).collect()[0]
    assert rep.n_violations == 1 and not rep.passed


def test_dq_assert_checks_raises_with_detail(spark):
    from etlbigdata_spark.operators import quality as dq

    df = spark.createDataFrame([Row(x=None)], "x int")
    with pytest.raises(ValueError, match="not_null:x"):
        dq.assert_checks(df, [dq.not_null("x")])
    dq.assert_checks(df, [dq.in_range("x", 0, 1)])  # null passes → no raise
    with pytest.raises(ValueError, match="no rules"):
        dq.run_checks(df, [])


def test_merge_upsert_empty_source_is_identity(spark):
    from etlbigdata_spark.operators import merge as fmerge

    target, source = _merge_fixtures(spark)
    empty = source.filter(F.lit(False))
    out = fmerge.merge_upsert(target, empty, ["k"])
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in target.collect()}


def test_merge_upsert_null_delete_condition_keeps_row(spark):
    """MERGE 'when matched and <cond> then delete' keeps rows whose
    condition evaluates to NULL (unknown ≠ true) — regression for the
    silent-delete bug where ~(... & NULL) is NULL and filter() dropped
    the row."""
    from etlbigdata_spark.operators import merge as fmerge

    target = spark.createDataFrame(
        [Row(k=1, v="a", amt=10.0), Row(k=2, v="b", amt=None)], "k int, v string, amt double"
    )
    source = spark.createDataFrame(
        [Row(k=1, amt=200.0), Row(k=2, amt=None)], "k int, amt double"
    )
    out = fmerge.merge_upsert(
        target, source, ["k"], delete_condition=F.col("s.amt") > 100
    )
    ks = {r.k for r in out.collect()}
    # k=1: condition TRUE → deleted. k=2: condition NULL → KEPT.
    assert ks == {2}


def test_dq_empty_table_vacuously_passes(spark):
    """Per-row rules over an EMPTY table must pass with 0 violations
    (SUM over zero rows is NULL without the coalesce) — the empty
    micro-batch case in the streaming DQ monitor."""
    from etlbigdata_spark.operators import quality as dq

    df = spark.createDataFrame([], "x int, s string")
    rep = {r.rule: (r.n_violations, r.passed) for r in dq.run_checks(df, [
        dq.not_null("x"),
        dq.in_range("x", 0, 10),
        dq.matches("s", "^ok$"),
        dq.unique("x"),
    ]).collect()}
    assert all(v == (0, True) for v in rep.values()), rep
    dq.assert_checks(df, [dq.not_null("x")])  # no raise


def test_flag_outliers_null_group_rows_survive(spark):
    """Rows whose group key is NULL must still appear in the output,
    flagged against the null-group's own bounds (null-unsafe equi-join
    used to drop them silently)."""
    from etlbigdata_spark.operators import quality as dq

    rows = [Row(g=None, v=float(x)) for x in [1, 2, 3, 4, 100]] + [
        Row(g="a", v=float(x)) for x in [10, 11, 12, 13, 500]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = dq.flag_outliers(df, "v", ["g"]).collect()
    assert len(out) == len(rows)  # nothing dropped
    flagged = {(r.g, r.v) for r in out if r.is_outlier}
    assert (None, 100.0) in flagged and ("a", 500.0) in flagged
    assert (None, 2.0) not in flagged


def test_zorder_bits_overflow_guarded(spark, tmp_path):
    """len(cols)*bits > 64 silently corrupts the Morton interleave (JVM
    shiftleft wraps mod 64) — zorder_column must raise; write_zordered
    auto-reduces bits instead."""
    from etlbigdata_spark.sources import writers

    with pytest.raises(ValueError, match="<= 64"):
        writers.zorder_column(["a", "b", "c", "d", "e"], [0] * 5, [1] * 5, bits=16)
    df = spark.createDataFrame(
        [Row(a=i, b=i * 2, c=i * 3, d=i * 5, e=i * 7) for i in range(100)]
    )
    dest = str(tmp_path / "z5")
    writers.write_zordered(df, dest, ["a", "b", "c", "d", "e"], n_files=4)
    assert spark.read.parquet(dest).count() == 100


def test_merge_upsert_idempotent(spark):
    """Applying the same delta twice must equal applying it once —
    the property that makes retried upsert jobs safe."""
    from etlbigdata_spark.operators import merge as fmerge

    target, source = _merge_fixtures(spark)
    once = fmerge.merge_upsert(target, source, ["k"])
    twice = fmerge.merge_upsert(once, source, ["k"])
    assert {tuple(r) for r in twice.collect()} == {tuple(r) for r in once.collect()}


def test_cms_frequency_bounds_and_merge(spark):
    """CMS guarantee over real data: exact <= estimate <= exact + eps*N,
    and sketches from disjoint slices merged equal the one-shot bounds
    (the cross-job merge path)."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    exact = {r[0]: r[1] for r in orders.groupBy("o_orderpriority").count().collect()}
    n = sum(exact.values())
    est = {r.value: r.est_count for r in
           aggregates.cms_frequencies(orders, "o_orderpriority", sorted(exact)).collect()}
    assert all(exact[k] <= est[k] <= exact[k] + 0.001 * n for k in exact)

    halves = [
        orders.filter(F.col("o_orderkey") % 2 == i)
        .agg(F.count_min_sketch(F.col("o_orderpriority"), F.lit(0.001), F.lit(0.99), F.lit(42)).alias("sk"))
        .collect()[0]["sk"]
        for i in (0, 1)
    ]
    merged = aggregates.cms_merge(spark, [bytes(h) for h in halves])
    assert all(exact[k] <= merged.estimateCount(k) <= exact[k] + 0.001 * n for k in exact)


def test_map_function_surface(spark):
    """B14 names map fns: build → access → invert → explode, all
    JVM-side expressions (no oracle face: DuckDB MAPs hash differently
    in the driver compare; semantics pinned here instead)."""
    df = spark.createDataFrame([Row(ks=["a", "b"], vs=[1, 2])])
    out = df.select(
        F.map_from_arrays("ks", "vs").alias("m")
    ).select(
        F.element_at("m", "b").alias("b_val"),
        F.map_keys("m").alias("keys"),
        F.size(F.map_filter("m", lambda k, v: v > 1)).alias("n_big"),
        F.explode(F.map_entries("m")).alias("e"),
    )
    rows = out.collect()
    assert rows[0]["b_val"] == 2 and rows[0]["keys"] == ["a", "b"] and rows[0]["n_big"] == 1
    assert {(r["e"]["key"], r["e"]["value"]) for r in rows} == {("a", 1), ("b", 2)}


def test_interpolate_linear_semantics(spark):
    from etlbigdata_spark.operators import aggregates

    df = spark.createDataFrame(
        [("k", 1, None), ("k", 2, 10.0), ("k", 3, None), ("k", 4, None),
         ("k", 5, 40.0), ("k", 6, None)],
        "g string, t int, v double",
    )
    out = {r.t: r.v for r in
           aggregates.interpolate_linear(df, ["g"], "t", ["v"]).collect()}
    assert out[1] is None and out[6] is None  # no extrapolation
    assert out[2] == 10.0 and out[5] == 40.0  # knowns untouched
    assert out[3] == 20.0 and out[4] == 30.0  # straight line between


def test_gap_fill_span_guard(spark):
    """A key spanning years at a seconds step must fail LOUDLY naming
    the key, instead of exploding a giant sequence inside one task."""
    import datetime

    from etlbigdata_spark.operators import aggregates

    ts = datetime.datetime
    df = spark.createDataFrame(
        [
            ("ok", ts(2024, 1, 1), 1.0),
            ("ok", ts(2024, 1, 1, 0, 0, 30), 2.0),
            ("bad", ts(2015, 1, 1), 1.0),     # 9-year span at 1-second step
            ("bad", ts(2024, 1, 1), 2.0),
        ],
        "g string, t timestamp, v double",
    )
    # the guard lives INSIDE the plan (assert_true wrapping the sequence
    # expression — no extra scan, builder stays lazy), so it raises at
    # execution time, naming the key
    guarded = aggregates.gap_fill(
        df, ["g"], "t", step="interval 1 second",
        max_grid_rows_per_key=1_000_000,
    )
    with pytest.raises(Exception, match="grid rows"):
        guarded.count()
    # guard off → no assert in the plan
    aggregates.gap_fill(
        df.filter(F.col("g") == "ok"), ["g"], "t",
        step="interval 1 second", max_grid_rows_per_key=None,
    ).count()
    # in-bounds data passes the guard unchanged
    n = aggregates.gap_fill(
        df.filter(F.col("g") == "ok"), ["g"], "t", step="interval 1 second"
    ).count()
    assert n == 31


def test_scd2_join_point_in_time(spark):
    """Round 6 — effective-dated join edges: containment at interval
    boundaries (half-open), facts before the first interval (NULL
    dims), coverage gaps (NULL dims), zero-length intervals from tied
    timestamps (dropped, never matched), and the open current
    interval."""
    from etlbigdata_spark.operators import joins

    hist = spark.createDataFrame(
        [
            # key 1: [10,20) "a", [20,20) zero-length "burst", [20,40) "b", [40,None) "c"
            (1, "a", 10, 20),
            (1, "burst", 20, 20),
            (1, "b", 20, 40),
            (1, "c", 40, None),
            # key 2: gap history [10,20) then [30,None)
            (2, "x", 10, 20),
            (2, "y", 30, None),
        ],
        "k long, attr string, valid_from long, valid_to long",
    )
    facts = spark.createDataFrame(
        [(100, 1, 5), (101, 1, 10), (102, 1, 19), (103, 1, 20), (104, 1, 40),
         (105, 1, 99), (106, 2, 25), (107, 2, 30)],
        "fact_id long, k long, ts long",
    )
    out = {r.fact_id: r.dim_attr for r in joins.scd2_join(facts, hist, "k", "ts").collect()}
    assert out == {
        100: None,   # before first interval
        101: "a",    # valid_from inclusive
        102: "a",
        103: "b",    # valid_to exclusive; zero-length "burst" never matches
        104: "c",    # boundary into the open interval
        105: "c",    # open current interval
        106: None,   # coverage gap
        107: "y",
    }
    # all facts kept (left-join semantics)
    assert joins.scd2_join(facts, hist, "k", "ts").count() == facts.count()


def test_scd2_history_roundtrips_through_scd2_join(spark):
    """Build a history with scd2_history, join the SOURCE events back
    point-in-time: every event must recover exactly its own attribute
    (the regime active at its timestamp is what it carried)."""
    from etlbigdata_spark.operators import cleaning, joins

    rows = [
        (1, 1, 10, "p"), (2, 1, 20, "p"), (3, 1, 30, "q"),
        (4, 2, 10, "z"), (5, 2, 40, "w"), (6, 2, 50, "w"),
    ]
    ev = spark.createDataFrame(rows, "eid long, k long, ts long, attr string")
    hist = cleaning.scd2_history(ev, ["k"], "ts", ["attr"]).select(
        "k", "attr", "valid_from", "valid_to"
    )
    joined = joins.scd2_join(
        ev.select("eid", "k", "ts", "attr"), hist, "k", "ts"
    )
    bad = joined.filter("attr IS DISTINCT FROM dim_attr").count()
    assert bad == 0 and joined.count() == len(rows)


def test_rebalance_for_expansion_noop_and_upscale(spark, monkeypatch):
    """Pre-explode rebalance: a frame already at >= defaultParallelism
    partitions passes through UNCHANGED (same plan object — no exchange
    inserted at real scale); the upscale width is BYTES-derived
    (round 13): a tiny frame is not sliced into cluster-parallelism
    few-KB tasks, while a frame whose size estimate exceeds the
    per-task byte budget comes back at full parallelism with identical
    rows."""
    df = spark.range(1000).selectExpr("id", "repeat('w ', 20) as text")
    wide = df.repartition(spark.sparkContext.defaultParallelism + 4)
    assert ftext.rebalance_for_expansion(wide) is wide
    narrow = df.coalesce(1)
    out_small = ftext.rebalance_for_expansion(narrow)
    assert out_small.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert out_small.count() == 1000
    # shrink the per-task budget: the same bytes now demand full width
    monkeypatch.setattr(ftext, "_EXPANSION_BYTES_PER_TASK", 16)
    out = ftext.rebalance_for_expansion(narrow)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 1000


def test_asof_self_join_matches_two_frame_asof(spark):
    """asof_self_join over one tagged scan must equal asof_join of the
    two filtered views with the right side pre-aggregated max(payload)
    per (key, ts) — including equal-ts inclusive matches, ties, forward
    direction, and no-match lefts (NULL payload)."""
    from etlbigdata_spark.operators import joins

    rows = [
        # (eid, key, ts, kind) — eids 10/11 tie at (k1, ts 5)
        (10, 1, 5, "r"), (11, 1, 5, "r"), (12, 1, 9, "r"),
        (20, 1, 5, "l"),   # equal-ts inclusive: matches max(10,11)=11
        (21, 1, 8, "l"),   # matches 11 (latest r at ts<=8 is ts5, max eid 11)
        (22, 1, 20, "l"),  # matches 12
        (30, 2, 3, "l"),   # key 2 has no r: NULL
        (40, 3, 1, "r"), (41, 3, 2, "l"),
    ]
    df = spark.createDataFrame(rows, "event_id long, k long, ts long, kind string")
    for direction in ("backward", "forward"):
        got = joins.asof_self_join(
            df, on="k", ts="ts",
            left_pred=F.col("kind") == "l", right_pred=F.col("kind") == "r",
            payload_cols="event_id", direction=direction,
        ).select("event_id", "k", "r_event_id")
        lefts = df.filter("kind = 'l'").select("event_id", "k", "ts")
        rights = (df.filter("kind = 'r'").groupBy("k", "ts")
                  .agg(F.max("event_id").alias("rid")))
        want = joins.asof_join(
            lefts, rights, on="k", left_ts="ts", direction=direction
        ).select("event_id", "k", F.col("r_rid").alias("r_event_id"))
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
        if direction == "backward":
            by_id = {r["event_id"]: r["r_event_id"] for r in got.collect()}
            assert by_id == {20: 11, 21: 11, 22: 12, 30: None, 41: 40}


def test_bpe_learn_classic_example(spark):
    """Sennrich's canonical corpus: the first merges must be ('e','s'),
    ('es','t▁') — frequency ties broken lexicographically make the
    whole list a pure function of the corpus."""
    from etlbigdata_spark.functions import bpe

    df = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        ["doc_id", "text"],
    )
    m = bpe.bpe_learn(df, num_merges=6)
    assert m[0] == ("e", "s")
    assert m[1] == ("es", "t▁")
    # after enough merges, whole hot words become single tokens
    m10 = bpe.bpe_learn(df, num_merges=10)
    enc = bpe.bpe_encode(df, m10).collect()[0].bpe_tokens
    assert "newest▁" in enc and "low▁" in enc


def test_bpe_encode_is_lossless(spark):
    """Joining each word's subwords and stripping the end sentinel must
    reconstruct the original token stream exactly."""
    from etlbigdata_spark.functions import bpe, text as ftext
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    m = bpe.bpe_learn(docs, num_merges=30, min_freq=2)
    enc = bpe.bpe_encode(docs, m)
    back = enc.select(
        "doc_id",
        F.array_join(ftext.tokens_col(F.col("text")), " ").alias("orig"),
        F.regexp_replace(
            F.array_join("bpe_tokens", ""), "▁", " "
        ).alias("rejoined"),
    )
    bad = back.filter(F.rtrim("rejoined") != F.col("orig")).count()
    assert bad == 0


def test_bpe_learn_partitioning_invariant(spark):
    """The merge list must not depend on input partitioning — the
    distributed word count is a plain aggregate and the driver loop
    sorts ties deterministically."""
    from etlbigdata_spark.functions import bpe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    m1 = bpe.bpe_learn(docs.repartition(1), num_merges=20, min_freq=2)
    m2 = bpe.bpe_learn(docs.repartition(16), num_merges=20, min_freq=2)
    assert m1 == m2


def test_bpe_learn_max_vocab_guard(spark):
    """The driver collect is hard-bounded: when the distinct-word count
    exceeds max_vocab with min_freq=1 the trainer refuses loudly; with
    an explicit min_freq>1 it keeps the top-N most frequent words and
    the merges it learns equal the unbounded run on the same head
    (frequency-desc truncation cannot change which pairs dominate)."""
    import pytest as _pytest

    from etlbigdata_spark.functions import bpe

    # 40 distinct words; 'aa ab' pair-rich head, long singleton tail
    text = "aa ab " * 50 + " ".join(f"w{i:02d}x" for i in range(38))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="max_vocab"):
        bpe.bpe_learn(df, num_merges=5, max_vocab=10)
    with _pytest.raises(ValueError, match="max_vocab must be"):
        bpe.bpe_learn(df, num_merges=5, max_vocab=0)
    capped = bpe.bpe_learn(df, num_merges=5, min_freq=2, max_vocab=10)
    uncapped = bpe.bpe_learn(df, num_merges=5, min_freq=2, max_vocab=None)
    assert capped == uncapped  # min_freq=2 leaves only {aa, ab}
    # cap roomier than vocab: identical to uncapped even at min_freq=1
    assert bpe.bpe_learn(df, num_merges=5, max_vocab=100) == bpe.bpe_learn(
        df, num_merges=5, max_vocab=None
    )


def test_bpe_merges_roundtrip_parquet(spark, tmp_path):
    """A trained tokenizer persists and reloads unchanged (the
    index-persistence discipline: train once, apply to later batches)."""
    from etlbigdata_spark.functions import bpe

    df = spark.createDataFrame([(1, "aa ab aa ab aa ab ba")], ["doc_id", "text"])
    m = bpe.bpe_learn(df, num_merges=5)
    p = str(tmp_path / "merges.parquet")
    bpe.merges_df(spark, m).write.parquet(p)
    assert bpe.load_merges(spark.read.parquet(p)) == m


def test_diff_tables_classifies_including_null_keys_and_values(spark):
    """diff_tables: all four classes; NULL keys match null-safely
    (presence markers, not key-nullness — a null-keyed row present on
    both sides is same/changed, never only_*); NULL == NULL values are
    'same'."""
    from etlbigdata_spark.operators import merge as fmerge

    left = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (None, "n", 1.0)],
        "k int, v string, x double",
    )
    right = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "CHANGED", 30.0),
         (None, "n", 1.0), (4, "d", 40.0)],
        "k int, v string, x double",
    )
    got = {r.k: r.change_type for r in fmerge.diff_tables(left, right, ["k"]).collect()}
    assert got[1] == "same"
    assert got[2] == "same"      # NULL == NULL value is same
    assert got[3] == "changed"
    assert got[None] == "same"   # null key matched across sides
    assert got[4] == "only_right"
    summary = {r.change_type: r.n for r in fmerge.diff_summary(left, right, ["k"]).collect()}
    assert summary == {"same": 3, "changed": 1, "only_right": 1}


def test_diff_tables_compare_cols_subset_and_validation(spark):
    from etlbigdata_spark.operators import merge as fmerge
    import pytest as _pytest

    left = spark.createDataFrame([(1, "a", 1.0)], "k int, v string, x double")
    right = spark.createDataFrame([(1, "a", 99.0)], "k int, v string, x double")
    got = fmerge.diff_tables(left, right, ["k"], compare_cols=["v"]).collect()
    assert got[0].change_type == "same"  # x excluded from the compare
    with _pytest.raises(ValueError):
        fmerge.diff_tables(left, right, [])
    with _pytest.raises(ValueError):
        fmerge.diff_tables(left, right.drop("x"), ["k"])


def test_mixture_sample_null_group_gets_its_rate(spark):
    """A None group key must select its computed rate (null-safe
    compare), not silently fall through to default_rate (review fix)."""
    from etlbigdata_spark.functions import corpus as fcorpus

    df = spark.createDataFrame(
        [(i, None if i % 2 == 0 else "src") for i in range(200)],
        "doc_id long, source string",
    )
    kept = fcorpus.mixture_sample(
        df, {None: 0.0, "src": 1.0}, group_col="source", default_rate=1.0
    )
    got = {(r.doc_id, r.source) for r in kept.collect()}
    assert all(s == "src" for _, s in got), "null-group rows ignored their 0.0 rate"
    assert len(got) == 100


def test_interval_overlap_join_each_pair_once_and_correct(spark):
    """The meeting-bucket rule must make each overlapping pair meet
    exactly once (even when ranges share many buckets) and miss no
    overlap (boundary touch counts; disjoint never matches)."""
    from etlbigdata_spark.operators import joins

    left = spark.createDataFrame(
        [("a", 0, 200, "L1"),    # spans many 16-wide buckets
         ("a", 300, 310, "L2"),
         ("b", 0, 10, "L3")],
        "k string, lo long, hi long, lid string",
    )
    right = spark.createDataFrame(
        [("a", 150, 400, "R1"),   # overlaps L1 (many shared buckets) and L2
         ("a", 201, 299, "R2"),   # sits in the L1–L2 gap: no overlap
         ("a", 200, 200, "R3"),   # boundary touch with L1
         ("b", 11, 20, "R4")],    # adjacent to L3, no overlap
        "k string, rlo long, rhi long, rid string",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in joins.interval_overlap_join(
            left, right, "k", "lo", "hi", "rlo", "rhi", bucket_width=16
        ).collect()
    )
    assert got == [("L1", "R1"), ("L1", "R3"), ("L2", "R1")]


def test_interval_overlap_join_with_same_bound_names(spark):
    """Both sides naming their bounds identically (sessions/outages both
    say start/end — the natural naming) must work: the residual
    predicates qualify through the join inputs (review fix: unqualified
    F.col raised AMBIGUOUS_REFERENCE)."""
    from etlbigdata_spark.operators import joins

    sessions = spark.createDataFrame(
        [("h1", 100, 200, "s1"), ("h1", 500, 600, "s2")],
        "host string, start long, end long, sid string",
    )
    outages = spark.createDataFrame(
        [("h1", 150, 550, "o1"), ("h1", 700, 800, "o2")],
        "host string, start long, end long, oid string",
    )
    got = sorted(
        (r.sid, r.oid)
        for r in joins.interval_overlap_join(
            sessions, outages, "host", "start", "end", "start", "end", 64
        ).collect()
    )
    assert got == [("s1", "o1"), ("s2", "o1")]


def test_ngram_novelty_semantics(spark):
    """Exact duplicates score 0 (every gram shared), a fully unique doc
    scores 1, and a doc shorter than n tokens reports NULL novelty with
    zero counts (0/0 is unknowable, not 0 or 1)."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),   # exact dup of 1
            (3, "completely different words entirely here"),
            (4, "too short"),                        # < 3 tokens: no 3-grams
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in ftext.ngram_novelty(df, n=3).collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0
    assert out[4].novelty is None and out[4].n_grams == 0 and out[4].n_unique == 0


def test_decontaminate_drops_exactly_the_flagged_docs(spark):
    """decontaminate(corpus, benchmark) == corpus minus
    contamination_report's flagged ids — and clean docs pass through
    untouched."""
    from etlbigdata_spark.functions import corpus as fcorpus

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high today"),       # contaminated
            (2, "completely unrelated text about databases"),  # clean
            (3, "quick brown fox jumps over everything"),      # contaminated
        ],
        "doc_id long, text string",
    )
    flagged = {
        r.doc_id
        for r in fcorpus.contamination_report(
            corpus, bench, min_overlap_ratio=0.2
        ).collect()
    }
    kept = {
        r.doc_id
        for r in fcorpus.decontaminate(corpus, bench, min_overlap_ratio=0.2).collect()
    }
    assert flagged and kept == {1, 2, 3} - flagged and 2 in kept


def test_source_vocab_overlap_hand_checked(spark):
    """Known vocabularies: identical sources score 1, DISJOINT pairs
    appear with shared=0 / jaccard=0 (full matrix — a consumer can
    tell 'no overlap' from 'source absent'), partial overlap computes
    the exact Jaccard; pairs are oriented source_a < source_b, each
    pair once, C(n,2) rows total."""
    df = spark.createDataFrame(
        [
            ("s1", "apple banana cherry"),
            ("s2", "apple banana cherry"),          # == s1
            ("s3", "apple dates elderberry fig"),   # shares 'apple' with s1/s2
            ("s4", "grape honeydew"),               # disjoint
        ],
        "source string, text string",
    )
    out = {
        (r.source_a, r.source_b): (r.shared, r.size_a, r.size_b, r.jaccard)
        for r in ftext.source_vocab_overlap(df).collect()
    }
    assert out[("s1", "s2")] == (3, 3, 3, 1.0)
    assert out[("s1", "s3")] == (1, 3, 4, round(1 / 6, 6))
    assert out[("s2", "s3")] == (1, 3, 4, round(1 / 6, 6))
    assert out[("s1", "s4")] == (0, 3, 2, 0.0)
    assert out[("s2", "s4")] == (0, 3, 2, 0.0)
    assert out[("s3", "s4")] == (0, 4, 2, 0.0)
    assert len(out) == 6


def test_psi_report_detects_planted_shift_and_validates(spark):
    """Identical snapshots give ~zero PSI everywhere; a shifted current
    snapshot concentrates positive terms where mass ARRIVED and the
    total crosses the 0.1 'moderate shift' line; empty sides and bad
    epsilon raise."""
    from etlbigdata_spark.operators import quality as dq

    ref = spark.createDataFrame([(float(100 + i % 200),) for i in range(400)], "x double")
    same = dq.psi_report(ref, ref, "x", lo=0.0, hi=400.0, n_bins=4)
    assert all(abs(r.psi_term) < 1e-9 for r in same.collect())

    cur = spark.createDataFrame([(float(250 + i % 100),) for i in range(300)], "x double")
    shifted = dq.psi_report(ref, cur, "x", lo=0.0, hi=400.0, n_bins=4).collect()
    total = sum(r.psi_term for r in shifted)
    assert total > 0.1, f"planted shift not detected: PSI={total}"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty side"):
        dq.psi_report(ref, cur.filter("x < 0"), "x", 0.0, 400.0)
    with _pytest.raises(ValueError, match="epsilon"):
        dq.psi_report(ref, cur, "x", 0.0, 400.0, epsilon=0.0)


def test_merge_upsert_schema_evolution(spark):
    """evolve_schema=True appends source-only columns: matched and
    inserted rows carry the source value, kept target-only rows NULL;
    the default still ignores source-only columns (target contract)."""
    from etlbigdata_spark.operators import merge as fmerge

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame(
        [(2, "B", 2.5), (3, "c", 3.5)], "k int, v string, score double"
    )
    plain = fmerge.merge_upsert(target, source, ["k"])
    assert plain.columns == ["k", "v"]

    evolved = fmerge.merge_upsert(target, source, ["k"], evolve_schema=True)
    assert evolved.columns == ["k", "v", "score"]
    got = {r.k: (r.v, r.score) for r in evolved.collect()}
    assert got == {1: ("a", None), 2: ("B", 2.5), 3: ("c", 3.5)}


def test_fixedpoint_money_agg_bit_exact_vs_decimal(spark):
    """Round-8 fixedpoint.py contract: the scaled-long money pipeline
    (q01/q03/q05's round-8 rewrite) is BIT-exact vs the decimal(18,4)
    formulation at sf0.1 — every output double identical, not just
    close.  This is the guard that lets the fast path carry the same
    DuckDB decimal oracle."""
    from etlbigdata_spark.operators import fixedpoint as fx
    from etlbigdata_spark.workload import D, _dec1, load

    sf = "/root/testdata/sf0.1"
    li = load(spark, sf, "lineitem")
    term4 = fx.money_times_pct("l_extendedprice", "l_discount", negate_pct=True)
    t2 = fx.scaled_long("l_tax")
    fixed = (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(fx.scaled_long("l_extendedprice")).alias("sp2"),
            F.sum(term4).alias("st4"),
            F.sum(term4 * t2).alias("st4t"),
        )
        .select(
            "l_returnflag",
            fx.unscale_to_double(F.col("sp2"), 2).alias("sum_base"),
            fx.unscale_to_double(F.col("st4"), 4).alias("sum_disc_price"),
            fx.unscale_to_double(
                F.col("st4").cast("decimal(38,0)") * 100 + F.col("st4t"), 6
            ).alias("sum_charge"),
        )
    )
    dec = li.groupBy("l_returnflag").agg(
        F.sum(D("l_extendedprice")).cast("double").alias("sum_base"),
        F.sum(D("l_extendedprice") * (_dec1() - D("l_discount")))
        .cast("double").alias("sum_disc_price"),
        F.sum(
            D("l_extendedprice") * (_dec1() - D("l_discount")) * (_dec1() + D("l_tax"))
        ).cast("double").alias("sum_charge"),
    )
    got = {r.l_returnflag: (r.sum_base, r.sum_disc_price, r.sum_charge)
           for r in fixed.collect()}
    want = {r.l_returnflag: (r.sum_base, r.sum_disc_price, r.sum_charge)
            for r in dec.collect()}
    assert got == want and len(got) >= 2  # dict equality == bit equality


def test_fixedpoint_scaled_long_absorbs_binary_error(spark):
    """scaled_long must recover the exact scaled integer from doubles
    that carry binary representation error (the 123.45*100 =
    12344.999... case), and unscale_to_double must match the decimal
    cast on the way back."""
    from etlbigdata_spark.operators import fixedpoint as fx

    df = spark.createDataFrame(
        [(123.45,), (0.07,), (104999.91,), (0.0,)], "x double"
    )
    got = [r.v for r in df.select(fx.scaled_long("x").alias("v")).collect()]
    assert got == [12345, 7, 10499991, 0]
    back = df.select(
        fx.unscale_to_double(fx.scaled_long("x"), 2).alias("b"),
        F.col("x").cast("decimal(18,4)").cast("double").alias("d"),
    )
    assert all(r.b == r.d for r in back.collect())


def test_fixedpoint_scaled_long_exact_above_2_52(spark):
    """Round-9 review: above 2^52 the cast-encode's +0.5 nudge itself
    rounds (double spacing ≥ 1) and shifted an exact integer by one —
    2^52+1 at dp=0 false-raised with validate=True and silently encoded
    ±1 with validate=False.  The magnitude branch must cast directly
    (every double there is integral, truncation exact), both faces,
    both signs, and stay correct just below the boundary too."""
    from etlbigdata_spark.operators import fixedpoint as fx

    big = float(2 ** 52 + 1)       # rounds wrong under +0.5 pre-fix
    below = float(2 ** 52 - 1) + 0.0
    df = spark.createDataFrame(
        [(big,), (-big,), (below,), (-below,)], "x double"
    )
    for validate in (True, False):
        got = [
            r.v for r in df.select(
                fx.scaled_long("x", dp=0, validate=validate).alias("v")
            ).collect()
        ]
        assert got == [2 ** 52 + 1, -(2 ** 52 + 1), 2 ** 52 - 1, -(2 ** 52 - 1)]


def test_fixedpoint_charge_decomposition_null_tax(spark):
    """Round-8 review fix: the decimal face's price·(1−disc)·(1+tax) is
    NULL (excluded from SUM) when tax is NULL — the decomposed
    fixed-point charge must skip those rows in BOTH partial sums, and
    an all-null-tax group must yield NULL charge, exactly like the
    decimal formulation."""
    from etlbigdata_spark.operators import fixedpoint as fx

    df = spark.createDataFrame(
        [("a", 100.00, 0.10, 0.05), ("a", 200.00, 0.00, None),
         ("b", 50.00, 0.02, None)],
        "g string, price double, disc double, tax double",
    )
    term4 = fx.money_times_pct("price", "disc", negate_pct=True)
    t2 = fx.scaled_long("tax")
    fixed = (
        df.groupBy("g")
        .agg(
            F.sum(F.when(t2.isNotNull(), term4)).alias("st4c"),
            F.sum(term4 * t2).alias("st4t"),
        )
        .select(
            "g",
            fx.unscale_to_double(
                F.col("st4c").cast("decimal(38,0)") * 100 + F.col("st4t"), 6
            ).alias("sum_charge"),
        )
    )
    dec = df.groupBy("g").agg(
        F.sum(
            F.col("price").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)") - F.col("disc").cast("decimal(18,4)"))
            * (F.lit(1).cast("decimal(18,4)") + F.col("tax").cast("decimal(18,4)"))
        ).cast("double").alias("sum_charge")
    )
    got = {r.g: r.sum_charge for r in fixed.collect()}
    want = {r.g: r.sum_charge for r in dec.collect()}
    assert got == want  # group a: only the tax-bearing row; group b: NULL
    assert want["b"] is None and want["a"] == 94.5


# -- corpus curation round 9: C4 cleaning + chunking -------------------
def test_c4_clean_line_and_doc_rules(spark):
    """Every C4 rule on a hand-built fixture: terminal-punct keep set
    (incl. '\"' and trailing-whitespace trim), min-words-per-line,
    case-insensitive banned line word, doc-level 'lorem ipsum' drop,
    and the min-surviving-lines drop."""
    from etlbigdata_spark.functions import corpus as fcorpus

    rows = [
        # doc 1: 3 lines — one good, one unpunctuated, one good with '"'
        (1, 'alpha beta gamma delta epsilon.\nno terminal punct here at all\n"quoted line with five words."  '),
        # doc 2: enough lines but one carries JavaScript (case test)
        (2, "one two three four five.\nthis line mentions JavaScript badly.\nsix seven eight nine ten!"),
        # doc 3: lorem ipsum doc-ban (lines otherwise fine)
        (3, "clean line one two three.\nLorem Ipsum placeholder text here.\nclean line four five six."),
        # doc 4: only one surviving line -> min_lines=2 drops the doc
        (4, "short line.\nanother good line with words."),
        # doc 5: short-word lines dropped by min_words
        (5, "a b.\nc d e f g h.\ni j k l m n?"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = fcorpus.c4_clean(df, min_words_per_line=5, min_lines=2)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 2, 5}
    assert got[1].n_lines == 3 and got[1].n_lines_kept == 2
    # trim applies to the punct test only; kept lines keep their bytes
    assert got[1].clean_text == 'alpha beta gamma delta epsilon.\n"quoted line with five words."  '
    assert got[2].n_lines_kept == 2  # JavaScript line dropped, case-insensitively
    assert "javascript" not in got[2].clean_text.lower()
    assert got[5].n_lines_kept == 2  # the 2-word line dies, 6-word lines live
    with pytest.raises(ValueError):
        fcorpus.c4_clean(df, min_words_per_line=0)


def test_c4_clean_is_shuffle_free(spark):
    from etlbigdata_spark.functions import corpus as fcorpus

    df = spark.createDataFrame([(1, "a b c d e.\nf g h i j.")], "doc_id int, text string")
    a = audit(fcorpus.c4_clean(df, min_lines=1))
    assert a.shuffle_exchanges == 0


def test_chunk_documents_exact_windows_and_tail_anchor(spark):
    """Strided full-size windows with the tail re-anchored to n-chunk:
    10 toks / chunk 4 / stride 3 -> starts 0,3,6 (ms divisible); 9 toks
    -> starts 0,3,5 (tail anchored, still full-size); short doc -> one
    short chunk; empty doc -> no rows."""
    from etlbigdata_spark.functions import corpus as fcorpus

    rows = [
        (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
        (2, "t0 t1 t2 t3 t4 t5 t6 t7 t8"),
        (3, "t0 t1"),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = fcorpus.chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=3)
    got = {(r.doc_id, r.chunk_id): (r.start, r.n_tokens, r.chunk_text) for r in out.collect()}
    assert {(d, c) for d, c in got} == {(1, 0), (1, 1), (1, 2), (2, 0), (2, 1), (2, 2), (3, 0)}
    assert got[(1, 0)] == (0, 4, "t0 t1 t2 t3")
    assert got[(1, 1)] == (3, 4, "t3 t4 t5 t6")
    assert got[(1, 2)] == (6, 4, "t6 t7 t8 t9")
    # 9 tokens: ms=5 not divisible by 3 -> tail anchored at 5, full-size
    assert got[(2, 2)] == (5, 4, "t5 t6 t7 t8")
    assert got[(3, 0)] == (0, 2, "t0 t1")
    # coverage: every token index of doc 2 appears in some window
    covered = set()
    for (d, _c), (s, n, _t) in got.items():
        if d == 2:
            covered |= set(range(s, s + n))
    assert covered == set(range(9))
    with pytest.raises(ValueError):
        fcorpus.chunk_documents(df, chunk_tokens=4, stride=5)
    with pytest.raises(ValueError):
        fcorpus.chunk_documents(df, chunk_tokens=0, stride=0)


def test_packed_sequences_offsets_and_canonical_text(spark):
    """(pack_id, doc offsets) line up with the tokenizer: 1-based
    inclusive ranges, zero-token docs get an empty range, packed_text
    is the strictly canonical token stream (no double separators from
    empty docs), concatenation is in id order."""
    from etlbigdata_spark.functions import corpus as fcorpus

    rows = [
        (1, "Alpha beta  gamma"),  # case+whitespace: canonicalized to 3 toks
        (2, ""),                    # zero tokens
        (3, "delta epsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # n_groups=1: deterministic single group, pack by id order
    seqs, docs = fcorpus.packed_sequences(df, budget=100, n_groups=1)
    (s,) = seqs.collect()
    assert s.packed_text == "alpha beta gamma delta epsilon"
    assert s.n_docs == 3 and s.n_tokens == 5
    offs = {r.doc_id: (r.doc_start, r.doc_end) for r in docs.collect()}
    assert offs == {1: (1, 3), 2: (4, 3), 3: (4, 5)}  # doc 2: empty range


def test_packed_sequences_duplicate_ids_keep_text_with_offsets(spark):
    """Documents that share an id: each offset range still covers the
    tokens of one document with that id.  The token branch and the
    narrow offsets branch order documents independently, so an id tie
    left to arrival order could put one document's tokens under
    another's offsets, in the same pack or across a shard boundary."""
    from etlbigdata_spark.functions import corpus as fcorpus

    rows = [
        (1, "zeta zeta zeta"), (1, "alpha"),
        (2, "beta"), (2, "omega omega"),
        (3, "kappa kappa kappa kappa"), (3, "mu mu"), (3, "nu"),
        (4, "x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    want = sorted((i, tuple(t.split())) for i, t in rows)
    for budget in (100, 3):
        seqs, docs = fcorpus.packed_sequences(df, budget=budget, n_groups=1, tokens_out=True)
        toks = {r.pack_id: r.packed_toks for r in seqs.collect()}
        got = sorted(
            (r.doc_id, tuple(toks[r.pack_id][r.doc_start - 1:r.doc_end]))
            for r in docs.collect()
        )
        assert got == want, budget


def test_packed_span_dedup_boundary_crossing_and_keep_first_cut(spark):
    """A spliced A|B pair duplicated in two packs: the whole 12-token
    stream (including the windows spanning the A-B boundary that only
    exist POST-packing) is reported in both packs with
    crosses_boundary=true; the cut face keeps the lowest-pack
    occurrence and empties the other; reshard-stable."""
    from etlbigdata_spark.functions import corpus as fcorpus

    a = "x1 x2 x3 x4 x5 x6"
    b = "y1 y2 y3 y4 y5 y6"
    # a zero-token doc sits at the splice point of each pack: it must
    # NOT count as span-touched (review r10: the two-sided overlap
    # predicate alone matched its inverted empty range)
    rows = [(1, a), (2, ""), (3, b), (4, a), (5, ""), (6, b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # n_groups=1, budget=12: ids 1-3 fill shard 0, ids 4-6 shard 1
    kw = dict(budget=12, n_groups=1, n=3, min_tokens=4)
    rep = fcorpus.packed_span_dedup(df, **kw)
    got = {(r.group, r.shard): r for r in rep.collect()}
    assert set(got) == {(0, 0), (0, 1)}
    for r in got.values():
        assert (r.span_start, r.span_end, r.span_tokens) == (1, 12, 12)
        assert r.n_docs_touched == 2 and bool(r.crosses_boundary) is True
    # reshard-stable (content-addressed grouping, id-ordered packing)
    rep2 = {tuple(r) for r in fcorpus.packed_span_dedup(df.repartition(5), **kw).collect()}
    assert rep2 == {tuple(r) for r in rep.collect()}
    cut = {r.pack_id: r for r in fcorpus.packed_span_cut(df, **kw).collect()}
    assert cut[0].packed_text == f"{a} {b}"  # keeper: lowest pack_id
    assert cut[1].packed_text == ""          # duplicate occurrence fully cut
    # n_tokens is recomputed from the CUT text (review r10), n_docs
    # stays pre-cut provenance
    assert cut[0].n_tokens == 12 and cut[1].n_tokens == 0
    assert cut[0].n_docs == 3 and cut[1].n_docs == 3


def test_chunk_documents_reshard_stable_and_shuffle_free(spark, sf_dir):
    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import corpus as fcorpus

    docs = workload.load(spark, sf_dir, "documents")
    key = lambda df: {(r.doc_id, r.chunk_id, r.start, r.chunk_text) for r in df.collect()}  # noqa: E731
    a = key(fcorpus.chunk_documents(docs, chunk_tokens=32, stride=24))
    b = key(fcorpus.chunk_documents(docs.repartition(7), chunk_tokens=32, stride=24))
    assert a == b and len(a) > len({x[0] for x in a})  # multi-chunk docs exist
    assert audit(fcorpus.chunk_documents(docs, chunk_tokens=32, stride=24)).shuffle_exchanges == 0


def test_epoch_sample_upsampling_semantics(spark, sf_dir):
    """Epoch-weighted up-sampling: integer rates give exact copy
    counts; fractional last copies are content-addressed (reshard-
    stable) and MONOTONE in rate (raising 2.4 -> 2.7 only ADDS copies);
    rate 0 empties a source; validation rejects negatives."""
    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import corpus as fcorpus

    docs = workload.load(spark, sf_dir, "documents")
    n_src0 = docs.filter(F.col("source") == "src0").count()

    mixed = fcorpus.epoch_sample(docs, {"src0": 3.0}, default_rate=0.0)
    per_copy = {
        r.epoch_copy: r["count"]
        for r in mixed.groupBy("epoch_copy").count().collect()
    }
    assert per_copy == {0: n_src0, 1: n_src0, 2: n_src0}

    key = lambda df: {(r.doc_id, r.epoch_copy) for r in df.collect()}  # noqa: E731
    lo = key(fcorpus.epoch_sample(docs, {"src0": 2.4}, default_rate=0.0))
    hi = key(fcorpus.epoch_sample(docs, {"src0": 2.7}, default_rate=0.0))
    assert lo < hi  # strictly monotone: only fourth-copy membership grows
    assert {c for _, c in lo} == {0, 1, 2}
    full = {(d, c) for d, c in lo if c < 2}
    assert len(full) == 2 * n_src0  # integer part exact
    again = key(
        fcorpus.epoch_sample(docs.repartition(7), {"src0": 2.4}, default_rate=0.0)
    )
    assert again == lo  # content-addressed, reshard-stable
    assert key(fcorpus.epoch_sample(docs, {}, default_rate=0.0)) == set()
    with pytest.raises(ValueError):
        fcorpus.epoch_sample(docs, {"src0": -0.1})
    # NULL group metadata takes default_rate (review pass 3: the oracle
    # was rebuilt join-free so both engines agree on this path)
    nulled = spark.createDataFrame([(900, None)], "doc_id long, source string")
    got = key(fcorpus.epoch_sample(nulled, {"src0": 0.0}, default_rate=2.0))
    assert got == {(900, 0), (900, 1)}


# ---------------------------------------------------------------------
# bm25_topk — lexical retrieval (round 12)
# ---------------------------------------------------------------------
def test_bm25_semantics_and_edges(spark):
    """Hand-checkable corpus: repeated query terms count once, rarer
    terms out-score common ones at equal tf, tf saturates (k1), long
    docs are penalized (b), non-matching queries emit nothing, NULL
    text is ignored, ranks are contiguous from 1 with the doc_id
    tie-break."""
    from etlbigdata_spark.functions import text as ftext

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),          # tf(apple)=2, dl=3
            (2, "apple cherry"),                # cherry is rare
            (3, "banana banana banana banana"),  # long, saturated tf
            (4, None),                           # ignored
            (5, "durian"),                       # matches nothing asked
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple apple"), (2, "cherry"), (3, "missingword"), (4, "banana")],
        "query_id int, query_text string",
    )
    rows = ftext.bm25_topk(docs, queries, k=10).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # q3 matches nothing; q2 hits only doc 2
    assert 3 not in by_q
    assert [r["doc_id"] for r in by_q[2]] == [2]
    # q1 "apple apple" == "apple" (distinct terms): docs 1 and 2 only,
    # doc 1 wins on tf=2
    assert [r["doc_id"] for r in by_q[1]] == [1, 2]
    assert [r["rank"] for r in by_q[1]] == [1, 2]
    # q4 banana: doc 1 (tf=1, dl=3) vs doc 3 (tf=4, dl=4) — tf
    # saturation + length norm still rank the 4-hit doc first
    assert [r["doc_id"] for r in by_q[4]] == [3, 1]
    # identical invocation is deterministic (micro-unit integer sums)
    again = ftext.bm25_topk(docs, queries, k=10).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bm25_plan_is_inverted_index_shaped(spark):
    """Scale pin: the only corpus-sized stages are scan+explode and the
    matched-pair shuffle — the query side reaches the token stream as a
    BROADCAST semi-side (no corpus x query cartesian, no sort-merge of
    the corpus against queries)."""
    from etlbigdata_spark.functions import text as ftext

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(100)], "doc_id long, text string"
    )
    queries = spark.createDataFrame([(1, "alpha")], "query_id int, query_text string")
    df = ftext.bm25_topk(docs, queries, k=5)
    df.collect()
    plan = list(walk(df))
    names = [n.name for n in plan]
    assert "CartesianProduct" not in names
    # the only nested-loop is the 1-row corpus-stats broadcast cross
    assert names.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in names  # the query-term semi filter + qt join
    # the corpus-sized work runs ONCE: since the round-13 qterms-df
    # tail rewrite (df folded into the broadcast query-term frame), tf
    # appears in two plan branches (dfreq build + probe) but its
    # (doc, term) exchange is REUSED — the executed plan must show the
    # reuse, and no persist is needed
    assert "ReusedExchange" in names, (
        "bm25 tf exchange no longer reused — the corpus explode would "
        "run twice (the dfreq build and the probe side each pay it)"
    )
    assert "InMemoryTableScan" not in names, (
        "bm25 re-grew a cache: the broadcast-df tail made the tf persist "
        "(and its materialization job) unnecessary"
    )
    # NO term-partitioned window anywhere: the round-12 df-over-term
    # window was an unbounded per-term hotspot for corpus-frequent
    # query terms (ADVICE r12); the only window left is the per-query
    # top-k rank
    assert not any("windowspecdefinition(term" in n.text for n in plan)
    assert "Window" in names  # the per-query top-k rank window
    ftext.release_cached()


def test_rrf_fuse_semantics(spark):
    """Hand-checkable fusion: a doc ranked by both legs beats docs
    ranked by one; missing legs contribute 0; ties break on id; legs
    beyond two fuse too; <2 legs and bad k_rrf raise."""
    import pytest as _pytest

    from etlbigdata_spark.functions import similarity as fsim

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id int, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 10, 2), (1, 12, 1)], "query_id int, doc_id long, rank int"
    )
    rows = {r["doc_id"]: (r["rrf_score"], r["rank"])
            for r in fsim.rrf_fuse([a, b], k=10).collect()}
    # doc 10: 1/61 + 1/62; doc 12: 1/61; doc 11: 1/62
    assert rows[10][1] == 1
    assert rows[12][1] == 2 and rows[11][1] == 3  # 1/61 > 1/62
    assert rows[10][0] == round(1 / 61 + 1 / 62, 6)
    assert rows[11][0] == round(1 / 62, 6)
    # three legs: a third leg ranking doc 11 first promotes it over 12
    c3 = spark.createDataFrame([(1, 11, 1)], "query_id int, doc_id long, rank int")
    rows3 = {r["doc_id"]: r["rank"] for r in fsim.rrf_fuse([a, b, c3], k=10).collect()}
    assert rows3[11] == 2 and rows3[12] == 3
    with _pytest.raises(ValueError, match="two ranked legs"):
        fsim.rrf_fuse([a])
    with _pytest.raises(ValueError, match="k_rrf"):
        fsim.rrf_fuse([a, b], k_rrf=0)


def test_bm25_persisted_index_probe_equals_direct_and_prunes(spark, tmp_path):
    """Round 12: bm25_write_index + bm25_probe_index must (a) reproduce
    bm25_topk over the same corpus EXACTLY (shared scoring tail), and
    (b) push the query-term bucket set down as PARTITION pruning on the
    on-disk postings — the property that makes a probe touch
    |query buckets|/n_buckets of a 100 TB inverted index's files
    instead of re-tokenizing the corpus."""
    from etlbigdata_spark.functions import text as ftext

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = spark.createDataFrame(
        [(1, "fast table scan"), (2, "customer order query")],
        "query_id int, query_text string",
    )
    path = str(tmp_path / "bm25_index")
    stats = ftext.bm25_write_index(docs, path, n_buckets=16)
    assert stats["n_buckets"] == 16 and stats["n_docs"] > 0

    probed = ftext.bm25_probe_index(spark, path, queries, k=10)
    direct = ftext.bm25_topk(docs, queries, k=10)
    got = sorted(map(tuple, probed.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want and len(got) > 0

    assert any("bucket" in n.meta.get("PartitionFilters", "") for n in walk(probed)), (
        "probe scan lost its bucket partition filter (full postings scan)"
    )
    # one file per bucket (the repartition-before-partitionBy rule)
    import os

    b0 = [p for p in os.listdir(f"{path}/postings") if p.startswith("bucket=")]
    assert len(b0) <= 16
    for bdir in b0[:4]:
        parts = [f for f in os.listdir(f"{path}/postings/{bdir}") if f.endswith(".parquet")]
        assert len(parts) == 1, f"{bdir} slivered into {len(parts)} files"

    # scoring params stay probe-time: a different b shifts scores
    alt = ftext.bm25_probe_index(spark, path, queries, k=10, b=0.0)
    assert sorted(map(tuple, alt.collect())) != got

    # no-match query set returns empty, torn stats raise
    none_q = spark.createDataFrame([(9, "zzzq")], "query_id int, query_text string")
    assert ftext.bm25_probe_index(spark, path, none_q, k=5).count() == 0
    ftext.release_cached()


def test_bm25_append_index_equals_rebuild(spark, tmp_path):
    """bm25_append_index must leave the index result-identical to a
    full rebuild over the union: df/tf are counts and avgdl derives
    from exact integer totals, so probe(A then append B) == probe(A∪B
    built at once).  Also pins O(new-batch) growth: the A-era posting
    files are untouched by the append (same names, sizes, mtimes)."""
    import os

    from etlbigdata_spark.functions import text as ftext

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    part_a = docs.filter("doc_id % 3 != 0")
    part_b = docs.filter("doc_id % 3 == 0")
    queries = spark.createDataFrame(
        [(1, "fast table scan"), (2, "window group sort line")],
        "query_id int, query_text string",
    )
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    ftext.bm25_write_index(part_a, inc, n_buckets=8)

    def snapshot(root):
        out = {}
        for r, _d, fs in os.walk(f"{root}/postings"):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = snapshot(inc)
    stats = ftext.bm25_append_index(part_b, inc)
    after = snapshot(inc)
    assert all(after[p] == v for p, v in before.items()), (
        "append rewrote pre-existing posting files — growth is no longer O(batch)"
    )
    assert len(after) > len(before)

    ftext.bm25_write_index(docs, full, n_buckets=8)
    assert (
        stats["n_docs"], stats["sum_dl"], stats["n_buckets"]
    ) == ftext._read_bm25_stats(spark, full)
    got = sorted(map(tuple, ftext.bm25_probe_index(spark, inc, queries, k=10).collect()))
    want = sorted(map(tuple, ftext.bm25_probe_index(spark, full, queries, k=10).collect()))
    direct = sorted(map(tuple, ftext.bm25_topk(docs, queries, k=10).collect()))
    assert got == want == direct and len(got) > 0
    ftext.release_cached()


def test_bm25_index_without_dfreq_refuses_append_and_probe(spark, tmp_path):
    """An index with no ``dfreq`` sidecar (the layout from before the
    sidecar existed) must be rebuilt: an append would land a batch-only
    df segment and every later probe would undercount df."""
    import shutil

    from etlbigdata_spark.functions import text as ftext

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = spark.createDataFrame(
        [(1, "fast table scan")], "query_id int, query_text string"
    )
    path = str(tmp_path / "no_dfreq")
    ftext.bm25_write_index(docs.filter("doc_id % 3 != 0"), path, n_buckets=8)
    shutil.rmtree(f"{path}/dfreq")
    with pytest.raises(ValueError, match="rebuild the index"):
        ftext.bm25_append_index(docs.filter("doc_id % 3 == 0"), path)
    with pytest.raises(ValueError, match="rebuild the index"):
        ftext.bm25_probe_index(spark, path, queries, k=10)


def test_positional_shingles_array_input_equals_text_input(spark):
    """Round-12 internals pin: duplicated_spans/positional_shingles over
    an already-tokenized array<string> column (the packed_sequences
    tokens_out path) must equal the text-column path exactly — the
    equivalence that lets packed_span_dedup skip re-splitting text that
    was just built by joining canonical token arrays.  Includes the
    edge cases the guard matters for: doc shorter than n, empty doc."""
    from pyspark.sql import functions as F

    from etlbigdata_spark.functions import dedup as fdedup

    rows = [
        (1, "alpha beta gamma delta alpha beta gamma"),
        (2, "x alpha beta gamma delta end marker"),
        (3, "tiny"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from etlbigdata_spark.functions.text import tokens_col

    arr = df.select("doc_id", tokens_col(F.col("text")).alias("text"))
    for fn, kw in (
        (fdedup.positional_shingles, dict(n=3)),
        (fdedup.duplicated_spans, dict(n=2, min_tokens=3, min_docs=2)),
    ):
        got_text = sorted(tuple(r) for r in fn(df, "doc_id", "text", **kw).collect())
        got_arr = sorted(tuple(r) for r in fn(arr, "doc_id", "text", **kw).collect())
        assert got_text == got_arr, (fn.__name__, got_text[:5], got_arr[:5])
