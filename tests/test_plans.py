"""Plan-shape regression tests: the properties PLANS.md audits, pinned
as assertions.  A change that keeps results correct but silently turns a
broadcast join into a cartesian product, un-pushes a filter, or widens a
scan would pass every oracle test — these fail instead.

AQE gotcha: ``executedPlan`` shows the final plan only after an action
runs on that same Dataset, so every helper collects first.
"""

from __future__ import annotations

import re

import pytest

from etlbigdata_spark import workload


def _final_plan(df) -> str:
    df.collect()  # materialize so AQE's final plan is available
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    """One materialization per inspected query."""
    return {
        name: _final_plan(workload.QUERIES[name](spark, sf_dir))
        for name in (
            "q01_pricing_summary",
            "q03_top_orders",
            "q05_region_revenue",
            "d02_jaccard_pairs",
            "d08_containment_pairs",
            "d09_semantic_dedup",
            "d10_duplicated_spans",
            "t23_packed_span_dedup",
            "s01_cosine_topk",
            "b09_asof",
        )
    }


def test_no_nested_loop_or_cartesian_anywhere(plans):
    """None of the hot queries may degrade to a per-row join strategy.
    Exception: s01's query-set × corpus scoring IS a broadcast
    nested-loop by design (no equi-key exists) — asserted separately."""
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, f"{name} went cartesian"
        if name != "s01_cosine_topk":
            assert "BroadcastNestedLoopJoin" not in plan, f"{name} went nested-loop"


def test_q01_filter_pushed_and_partial_agg(plans):
    plan = plans["q01_pricing_summary"]
    # shipdate predicate reaches the parquet scan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), "q01 filter not pushed"
    # map-side combine: a HashAggregate below the exchange and one above
    assert plan.count("HashAggregate") >= 2, "q01 lost partial aggregation"


def test_q05_dims_broadcast_and_lineitem_pruned(plans):
    plan = plans["q05_region_revenue"]
    assert plan.count("BroadcastHashJoin") >= 2, "q05 dims no longer broadcast"
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 2
    # lineitem scan must not read all 11 columns for a 3-column need
    m = re.search(r"ReadSchema: struct<([^>]*l_extendedprice[^>]*)>", plan)
    assert m, "no lineitem scan found in q05 plan"
    width = len(m.group(1).split(","))
    assert width <= 4, f"q05 lineitem scan reads {width} columns"


def test_d02_joins_on_hashes_not_strings(plans):
    """The inverted-index self-join must shuffle 8-byte hashes; a shingle
    STRING in any Exchange hashpartitioning key is the regression."""
    plan = plans["d02_jaccard_pairs"]
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "shingle_str" not in part
    assert "xxhash64" in plan, "d02 no longer hashes shingles"
    # round 5: the self-join is shuffled-HASH by hint (sort-merge sorted
    # both multi-million-row sides for an order-insensitive pair count —
    # measured 2.1x slower at sf1); a refactor or Spark upgrade dropping
    # the hint must fail here, not in a bench regression
    assert "ShuffledHashJoin" in plan, "d02 self-join lost its shuffle_hash hint"


def test_d08_inherits_d02_plan_shape(plans):
    """Containment pairs run through the same inverted-index core as
    d02 (shared _shared_counts_and_sizes): hashed shingles, shuffled-
    hash self-join — a refactor that forks the plans must fail here."""
    plan = plans["d08_containment_pairs"]
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "shingle_str" not in part
    assert "xxhash64" in plan, "d08 no longer hashes shingles"
    assert "ShuffledHashJoin" in plan, "d08 self-join lost the shuffle_hash hint"


def test_d02_shj_build_scales_with_corpus(spark, sf_dir, monkeypatch):
    """Round-9 regression (first hit at sf30: 'Can't acquire ... bytes
    to build hash relation'): the self-join's shuffled-hash build must
    stay BOUNDED as the corpus grows.  Three regimes, same results:
    (a) small corpus — hint as before, session partition count;
    (b) shingle rows exceed _SHJ_BUILD_ROWS — explicit repartition
        widens the join so per-task builds stay ~constant;
    (c) even _SHJ_MAX_PARTS insufficient — hint DROPPED, sort-merge
        spills instead of dying."""
    from etlbigdata_spark.functions import dedup as fdedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)

    def run():
        fdedup.release_cached()
        return fdedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.2, max_doc_freq=50
        )

    base = run()
    want = sorted(tuple(r) for r in base.collect())
    base_plan = _final_plan(base)
    assert "ShuffledHashJoin" in base_plan

    monkeypatch.setattr(fdedup, "_SHJ_BUILD_ROWS", 100)
    widened = run()
    got_w = sorted(tuple(r) for r in widened.collect())
    plan_w = _final_plan(widened)
    assert got_w == want
    assert "ShuffledHashJoin" in plan_w
    # the explicit repartition widened the JOIN beyond the session count
    # (upstream doc-freq/size aggregates legitimately stay at the
    # session width, so assert any-not-all)
    m = re.findall(r"Exchange hashpartitioning\(shingle[^,]*, (\d+)\)", plan_w)
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert m and any(int(x) > session_parts for x in m), (m, plan_w)

    monkeypatch.setattr(fdedup, "_SHJ_MAX_PARTS", 1)
    smj = run()
    got_s = sorted(tuple(r) for r in smj.collect())
    assert got_s == want
    assert "ShuffledHashJoin" not in _final_plan(smj)  # spill-safe SMJ

    # (d) review-pass fix: with NO doc-freq guard a single hot shingle
    # concentrates unboundedly in one partition, so the hash hint must
    # not be forced — unguarded callers get sort-merge
    monkeypatch.undo()
    fdedup.release_cached()
    unguarded = fdedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                           threshold=0.2, max_doc_freq=None)
    unguarded.collect()
    assert "ShuffledHashJoin" not in _final_plan(unguarded)


def test_d09_within_cell_equi_join_only(plans):
    """SemDeDup's whole point is that the pair join is an EQUI-join on
    the cell id — never a cross/theta product over the corpus."""
    plan = plans["d09_semantic_dedup"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join \[cluster", plan), (
        "d09 pair join is not keyed on the cell id"
    )


def test_d09_production_path_one_shuffle_on_cell_id(spark, sf_dir):
    """Round-8 brief item 3 — the PRODUCTION semantic-dedup composition
    (kmeans_fit centroids, cell count scaled with the corpus,
    vectorized=True BLAS scoring) must move the corpus exactly ONCE:
    a single Exchange hashpartitioning(cluster) feeding the
    FlatMapGroupsInPandas scorer, assignment map-side (no join, no
    second exchange anywhere in the plan).  This is the plan the sf1
    k-means-scaled d09 row of GROWTH_r08.json measured; the 8-cell
    oracle face keeps its own pin above."""
    from etlbigdata_spark.functions import similarity as fsim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents, _, _ = fsim.kmeans_fit(emb, k=8, iters=1)
    pairs = fsim.semantic_dedup_pairs(
        emb, centroids=cents, vectorized=True, threshold=0.99
    )
    plan = _final_plan(pairs).split("== Initial Plan ==")[0]  # AQE echo
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    assert len(exchanges) == 1 and exchanges[0].startswith("cluster"), exchanges
    assert "FlatMapGroupsInPandas [cluster" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_d10_no_pair_join_and_hashed_stream(plans):
    """Span dedup is linear in the token stream: the only join is the
    LeftSemi hit-marking join on the 64-bit shingle hash — no pair join,
    no shingle STRINGS in any exchange, and the doc-freq aggregate runs
    with a map-side partial."""
    plan = plans["d10_duplicated_spans"]
    assert "CartesianProduct" not in plan
    joins = re.findall(r"(\w+Join) \[[^\]]*\], \[[^\]]*\], (\w+)", plan)
    assert joins and all(jt == "LeftSemi" for _, jt in joins), (
        f"d10 grew a non-semi join: {joins}"
    )
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__sh" not in part and "shingle" not in part
    assert "xxhash64" in plan, "d10 no longer hashes shingles"
    # round 13: the doc-freq agg is min/max-per-hash (one exchange,
    # O(1) map-side state) instead of countDistinct (two exchanges)
    assert "partial_min" in plan and "partial_max" in plan, (
        "doc-freq agg lost its single-exchange min/max map-side partial"
    )
    assert "partial_count" not in plan, (
        "d10 regrew a countDistinct-style two-exchange doc-freq agg"
    )


def test_q03_q05_reduce_first(plans):
    """Round-10 (VERDICT r9 item 2): q03/q05 pre-aggregate lineitem
    revenue per orderkey BEFORE any join — the map-side partial exists,
    the aggregate is keyed on the fact's own join key (proving it sits
    below the join: an after-join aggregate would be keyed on o_*
    columns), and no exchange partitions on a raw money column."""
    for name in ("q03_top_orders", "q05_region_revenue"):
        plan = plans[name]
        assert "partial_sum" in plan, f"{name} lost its map-side partial"
        assert re.search(r"HashAggregate\(keys=\[l_orderkey", plan), (
            f"{name} no longer aggregates the fact on its own key before the join"
        )
        for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "l_extendedprice" not in part and "l_discount" not in part


def test_t23_stays_linear_no_pair_join(plans):
    """Round-10 (VERDICT r9 item 7): packed-shard span dedup keeps the
    d10 linear shape — the span finder's only join is the LeftSemi
    hit-marking join on the 64-bit shingle hash, and the ONLY non-semi
    join is the bounded spans x doc-offsets equi-join on pack_id (span
    report side, small by construction). No pair join, hashed stream,
    map-side doc-freq partial."""
    plan = plans["t23_packed_span_dedup"]
    assert "CartesianProduct" not in plan
    # dedup by full join signature: the persisted frames' InMemoryRelation
    # nodes re-print their cached subtrees, so the same join node can
    # appear several times in the plan STRING without executing twice
    joins = set(re.findall(r"(\w+Join) (\[[^\]]*\], \[[^\]]*\]), (\w+)", plan))
    kinds = [jt for _, _, jt in joins]
    assert kinds, "expected joins in the t23 plan"
    assert set(kinds) <= {"LeftSemi", "Inner"}, f"t23 grew a join type: {joins}"
    assert kinds.count("Inner") == 1, (
        f"t23 should have exactly one non-semi join (offset map), got {joins}"
    )
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__sh" not in part and "shingle" not in part
    assert "xxhash64" in plan, "t23 no longer hashes shingles"
    assert "partial_count" in plan, "doc-freq agg lost its map-side partial"


def test_s01_corpus_never_shuffled(plans):
    """Exact top-k (round-4 vectorized plan): the corpus streams straight
    from the scan into the Arrow matmul scorer (MapInPandas) with NO join
    and NO exchange upstream — the query matrix rides inside the task
    closure.  Only the per-query window rank (over the per-batch-cut
    candidate rows, ~k×Q per batch) may hash-shuffle."""
    plan = plans["s01_cosine_topk"]
    assert "MapInPandas" in plan, "s01 no longer uses the vectorized scorer"
    assert "Join" not in plan, "s01 scoring regressed to a join"
    # AQE toString lists final + initial trees: count DISTINCT exchanges
    shuffle_ids = set(
        re.findall(r"Exchange hashpartitioning\([^)]*\)[^\[]*\[plan_id=(\d+)\]", plan)
    )
    assert len(shuffle_ids) <= 2, (
        f"s01 has {len(shuffle_ids)} hash shuffles (corpus shuffled?)"
    )
    # the scorer must consume the scan directly: no exchange between the
    # parquet read and the MapInPandas node
    scorer_input = plan.split("MapInPandas")[-1]
    assert "Exchange" not in scorer_input.split("Scan parquet")[0], (
        "corpus is shuffled before scoring"
    )


def test_s10_query_table_built_in_jvm(spark, sf_dir):
    """s10's literal query table is a JVM-side relation: a Python-list
    ``createDataFrame`` scans as ``ExistingRDD`` and runs Python workers
    in every stage that reads it."""
    plan = _final_plan(workload.s10_bm25_topk(spark, sf_dir))
    assert "ExistingRDD" not in plan


def test_b09_asof_single_shuffle_no_range_blowup(plans):
    """As-of join is the union+window plan: one shuffle on the join key,
    no range cross-product."""
    plan = plans["b09_asof"]
    assert "CartesianProduct" not in plan
    assert "Window" in plan, "b09_asof no longer uses the window plan"


def test_audit_api_extracts_known_plan_properties(spark, sf_dir):
    """plans.audit: on the q05 star join the audit must see every scan
    pushed+pruned, broadcast joins, no dangerous nodes, no warnings —
    and on a deliberate crossJoin it must warn."""
    from pyspark.sql import functions as F

    from etlbigdata_spark.plans import audit as pa

    df = workload.QUERIES["q05_region_revenue"](spark, sf_dir)
    df.collect()
    a = pa.audit(df)
    assert a.total_scans >= 5 and a.pushed_filter_scans == a.total_scans
    assert a.broadcast_hash_joins >= 3
    assert a.cartesian_products == 0 and a.nested_loop_joins == 0
    assert a.codegen_spans > 0
    assert a.warnings == []
    assert len(a.lines()) == 5

    bad = spark.range(10).crossJoin(spark.range(10).select(F.col("id").alias("j")))
    bad.collect()
    warns = pa.lint(bad)
    assert any("NestedLoop" in w or "Cartesian" in w for w in warns)


def test_lint_flags_interpreted_hofs(spark):
    """The institutionalized HOF rule (round-5 brief item 7): the repo
    measured interpreted HOF lambdas 2-9x slower than explode+codegen,
    so lint must fire on the fused word_shingles face and on per-char
    folds, stay quiet on codegen-only plans, and be suppressible for
    the deliberate streaming-projection trade."""
    from pyspark.sql import functions as F

    from etlbigdata_spark.functions import dedup as fdedup
    from etlbigdata_spark.functions import text as ftext
    from etlbigdata_spark.plans import audit as pa

    docs = spark.createDataFrame([("a b c d e",)], "text string")

    # word_shingles: transform lambda calls array_join(slice(...)) → fires
    shingled = docs.select(fdedup.word_shingles("text").alias("sh"))
    warns = pa.lint(shingled)
    assert any(w.startswith("[hof]") and "transform" in w for w in warns), warns

    # rolling fingerprint: aggregate() fold → fires
    folded = docs.select(ftext.rolling_fingerprint_col("text").alias("fp"))
    assert any("aggregate() fold" in w for w in pa.lint(folded))

    # production fingerprint (xxhash64) and the two-step shingle plan
    # (tokenize → explode) are codegen: quiet
    assert pa.lint(docs.select(ftext.fingerprint_col("text").alias("fp"))) == []
    exploded = fdedup.exploded_shingles(
        docs.select(F.lit(1).alias("id"), "text"), "id", "text"
    )
    # exploded_shingles still slices inside a transform over the token
    # array — the documented two-step trade; whitelisting silences it
    assert pa.lint(exploded, allow_hofs=True) == []

    # streaming minhash projection: deliberate per-row HOF (append-mode
    # streams cannot run the explode+groupBy plan) → whitelisted by design
    sig = docs.select(
        ftext.tokens_col("text").alias("__toks")
    ).select(fdedup.shingle_hashes_col("__toks").alias("hs")).select(
        fdedup.minhash_signature_col("hs", num_hashes=4).alias("sig")
    )
    assert any(w.startswith("[hof]") for w in pa.lint(sig))
    assert pa.lint(sig, allow_hofs=True) == []


def test_round4_plan_shapes_pinned(spark, sf_dir):
    """Round-4 operators keep their scale-deciding plan shapes:
    evt03 runs on ONE shuffle (the per-session agg reuses the window's
    user_id partitioning), q02's dim filter stays below the offers
    aggregate as a semi-join, b31 is a single full-outer join with no
    per-row strategy, b33's fuzzy join never degrades to nested-loop."""
    evt03 = workload.QUERIES["evt03_sessionize"](spark, sf_dir)
    p = _final_plan(evt03)
    # AQE prints final AND initial trees; count the final tree only
    final_tree = p.split("+- == Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final_tree)) == 1, (
        "evt03 grew a second shuffle"
    )
    # round 12 (EVT03_DECOMP_r12.json): the shuffled row is encoded
    # map-side — epoch-us long + scaled_long(value,4) — so the window
    # passes and the session aggregate never touch a decimal; a decimal
    # cast reappearing in the plan is the BigDecimal slow path coming
    # back (operators/fixedpoint.py)
    assert "unix_micros" in p, "evt03 lost the map-side epoch-us encode"
    assert not re.search(r"cast\(value(#\d+)? as decimal", p), (
        "evt03's per-row decimal cast is back — windows/agg must stay on longs"
    )

    q02 = workload.QUERIES["q02_min_cost_supplier"](spark, sf_dir)
    p = _final_plan(q02)
    assert "LeftSemi" in p, "q02 lost the pushed-down part-filter semi-join"
    assert "CartesianProduct" not in p

    b31 = workload.QUERIES["b31_merge_upsert"](spark, sf_dir)
    p = _final_plan(b31)
    assert "FullOuter" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    b33 = workload.QUERIES["b33_fuzzy_pairs"](spark, sf_dir)
    p = _final_plan(b33)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q21_single_lineitem_scan(spark, sf_dir):
    """Round-5 rewrite pin: q21 reads lineitem exactly ONCE (the
    per-order aggregate collects the failing set; no join-back scan)."""
    df = workload.QUERIES["q21_sole_failing_supplier"](spark, sf_dir)
    plan = _final_plan(df)
    # AQE toString prints final + initial trees; count scan NODES in the
    # final tree only (each prints as "Scan parquet " with its path)
    final_tree = plan.split("+- == Initial Plan ==")[0]
    n = len(re.findall(r"Scan parquet[^\n]*lineitem", final_tree))
    assert n == 1, f"q21 has {n} lineitem scans (single-scan rewrite regressed)"
    # Round-9 pin: the fact moves exactly ONCE — a single
    # hashpartitioning(l_orderkey) exchange feeds BOTH grouping levels
    # (subset partitioning satisfies the (ok, sk) distribution); the
    # only other exchanges are the tiny post-broadcast-join s_name agg
    # and the final sort.  A second fact-sized exchange means the
    # repartition lever regressed.
    fact_exchanges = re.findall(
        r"Exchange hashpartitioning\(l_orderkey", final_tree
    )
    assert len(fact_exchanges) == 1, (
        f"q21 fact shuffles {len(fact_exchanges)}x (want 1): {final_tree}"
    )
    assert not re.search(r"Exchange hashpartitioning\(l_orderkey[^\n]*__sk", final_tree)
