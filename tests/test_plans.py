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
from etlbigdata_spark.plans.audit import PlanNode, audit, scan_rows, walk


def _final_plan(df) -> list[PlanNode]:
    df.collect()  # materialize so AQE's final plan is available
    return list(walk(df))


def _names(plan: list[PlanNode]) -> list[str]:
    return [n.name for n in plan]


def _has(plan: list[PlanNode], needle: str) -> bool:
    """``needle`` occurs in some operator's line of the plan tree."""
    return any(needle in n.text for n in plan)


def _exchanges(plan: list[PlanNode]) -> list[str]:
    """Each shuffle Exchange's line: its partitioning and keys."""
    return [n.text for n in plan if n.name == "Exchange"]


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
        assert "CartesianProduct" not in _names(plan), f"{name} went cartesian"
        if name != "s01_cosine_topk":
            assert "BroadcastNestedLoopJoin" not in _names(plan), f"{name} went nested-loop"


def test_q01_filter_pushed_and_partial_agg(plans):
    plan = plans["q01_pricing_summary"]
    # shipdate predicate reaches the parquet scan
    assert any("l_shipdate" in n.meta.get("PushedFilters", "") for n in plan), "q01 filter not pushed"
    # map-side combine: a HashAggregate below the exchange and one above
    assert _names(plan).count("HashAggregate") >= 2, "q01 lost partial aggregation"


def test_q05_dims_broadcast_and_lineitem_pruned(plans):
    names = _names(plans["q05_region_revenue"])
    assert names.count("BroadcastHashJoin") >= 2, "q05 dims no longer broadcast"
    assert names.count("SortMergeJoin") <= 2
    # lineitem scan must not read all 11 columns for a 3-column need
    schemas = [n.meta["ReadSchema"] for n in plans["q05_region_revenue"]
               if "l_extendedprice" in n.meta.get("ReadSchema", "")]
    assert schemas, "no lineitem scan found in q05 plan"
    width = len(schemas[0].split(","))
    assert width <= 4, f"q05 lineitem scan reads {width} columns"


def _self_joins(plan: list[PlanNode]) -> list[PlanNode]:
    """Each inner join keyed on the shingle hash: the inverted-index
    self-join of d02/d08 (the doc-freq guard's join on the same key is
    an anti join)."""
    return [n for n in plan if n.name.endswith("Join") and "[shingle" in n.text
            and n.jnode.joinType().toString() == "Inner"]


def test_d02_joins_on_hashes_not_strings(plans):
    """The inverted-index self-join must shuffle 8-byte hashes; a shingle
    STRING in any Exchange hashpartitioning key is the regression."""
    plan = plans["d02_jaccard_pairs"]
    for part in _exchanges(plan):
        assert "shingle_str" not in part
    assert _has(plan, "xxhash64"), "d02 no longer hashes shingles"
    # round 5: sort-merge sorted both multi-million-row sides for an
    # order-insensitive pair count (measured 2.1x slower at sf1); at the
    # fixture's size AQE must pick a hash join, broadcast or shuffled
    joins = _names(_self_joins(plan))
    assert len(joins) == 1 and joins[0] in ("BroadcastHashJoin", "ShuffledHashJoin"), joins


def test_d08_inherits_d02_plan_shape(plans):
    """Containment pairs run through the same inverted-index core as
    d02 (shared _shared_counts_and_sizes): hashed shingles, a hash
    self-join — a refactor that forks the plans must fail here."""
    plan = plans["d08_containment_pairs"]
    for part in _exchanges(plan):
        assert "shingle_str" not in part
    assert _has(plan, "xxhash64"), "d08 no longer hashes shingles"
    joins = _names(_self_joins(plan))
    assert len(joins) == 1 and joins[0] in ("BroadcastHashJoin", "ShuffledHashJoin"), joins


def _join_subtree(node: PlanNode) -> set[str]:
    """The operators below a join, down to and including any cached
    relation's scan or AQE stage (a cached plan is not entered)."""
    names, todo = set(), [node.jnode.children().apply(i)
                          for i in range(node.jnode.children().length())]
    while todo:
        c = todo.pop()
        names.add(c.nodeName())
        if c.nodeName() not in ("InMemoryTableScan", "TableCacheQueryStage"):
            todo.extend(c.children().apply(i) for i in range(c.children().length()))
    return names


def test_d02_self_join_strategy_follows_measured_size(spark, sf_dir):
    """Round-9 regression (first hit at sf30: 'Can't acquire ... bytes
    to build hash relation'): the self-join's hash build must stay
    BOUNDED as the corpus grows.  No builder decides it; each regime is
    a session conf, set here and restored:
    (a) session defaults: a hash join (broadcast at this size);
    (b) broadcast off: AQE measures the shuffled sides, and every
        partition is under maxShuffledHashJoinLocalMapThreshold, so a
        shuffled-hash join.  With the doc-freq guard the guard's
        anti-join is sort-merge here, so the cache arrives partitioned
        and sorted by shingle and the self-join merges it directly:
        no exchange, no sort, no hash build;
    (c) broadcast off and that threshold 0: no build fits, so the
        spill-safe sort-merge join.
    Guarded (max_doc_freq=50) and unguarded callers both follow these
    rules, and every regime returns the same rows.  The corpus is a
    plain scan, so the unguarded self-join reads shuffled sides for AQE
    to measure (a ``limit`` would leave one partition and no exchange)."""
    from etlbigdata_spark.functions import dedup as fdedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    no_bhj = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    no_shj = {**no_bhj, "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0"}
    hash_join = ("BroadcastHashJoin", "ShuffledHashJoin")
    # (regime, max_doc_freq) -> (confs, allowed strategies, merges the cache as is)
    regimes = {
        ("default", 50): ({}, hash_join, False),
        ("default", None): ({}, hash_join, False),
        ("no_bhj", 50): (no_bhj, ("SortMergeJoin",), True),
        ("no_bhj", None): (no_bhj, ("ShuffledHashJoin",), False),
        ("no_shj", 50): (no_shj, ("SortMergeJoin",), True),
        ("no_shj", None): (no_shj, ("SortMergeJoin",), False),
    }
    want: dict = {}
    for (regime, max_doc_freq), (confs, strategies, merges_cache) in regimes.items():
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            fdedup.release_cached()
            pairs = fdedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.2, max_doc_freq=max_doc_freq
            )
            got = sorted(tuple(r) for r in pairs.collect())
            plan = list(walk(pairs))
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        key = (regime, max_doc_freq)
        joins = _self_joins(plan)
        assert len(joins) == 1 and joins[0].name in strategies, (key, _names(joins))
        if merges_cache:
            below = _join_subtree(joins[0])
            assert below & {"InMemoryTableScan", "TableCacheQueryStage"}, (key, below)
            assert not below & {"Exchange", "Sort"}, (key, below)
        assert got, "vacuous: no pairs at this threshold"
        assert got == want.setdefault(max_doc_freq, got), key
    fdedup.release_cached()


def test_curation_builders_run_no_job(spark, sf_dir):
    """Building a curation query plans it and runs nothing (ROADMAP item
    2): join and partition-width decisions are left to the planner and
    to AQE, which measures the bytes the action shuffles.  No builder
    may count, collect or read ``.rdd`` of a shuffled frame first."""
    sc = spark.sparkContext
    # the first read of a Parquet table infers its schema with a job;
    # load() keeps the table for the session, so that job is not a build's
    workload.load(spark, sf_dir, "documents")
    for name in (
        "t20_c4_clean", "t21_chunking", "d02_jaccard_pairs", "d03_minhash",
        "d10_duplicated_spans", "t23_packed_span_dedup", "s10_bm25_topk",
        "t14_surprisal", "d08_containment_pairs",
    ):
        group = f"build-{name}"
        sc.setJobGroup(group, group)
        try:
            workload.QUERIES[name](spark, sf_dir)
        finally:
            sc._jsc.clearJobGroup()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_threshold_probe_scores_each_pair_once(spark, sf_dir, tmp_path):
    """The pair-emission face of the IVF probe (st13/st14's per-batch
    shape) computes the interpreted HOF cosine once per probed pair: a
    filter on a projected cosine is pushed under the projection and
    evaluates it again.  The pair cosine is the ``zip_with`` over the
    corpus vector ``__cvec`` (the query-to-centroid assignment has its
    own)."""
    from etlbigdata_spark.functions import similarity as fsim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    fsim.ivf_write_index(emb, path, n_centroids=8)
    queries = emb.orderBy("vec_id").limit(4)
    pairs = fsim.ivf_probe_index(
        spark, path, queries, n_probe=2, round_to=6, threshold=0.5, exclude_self=False
    )
    assert pairs.collect(), "vacuous: no pair passed the threshold"
    scored = [n.text.count("zip_with(") for n in walk(pairs) if "__cvec" in n.text]
    assert sum(scored) == 1, scored


def test_d09_within_cell_equi_join_only(plans):
    """SemDeDup's whole point is that the pair join is an EQUI-join on
    the cell id — never a cross/theta product over the corpus."""
    plan = plans["d09_semantic_dedup"]
    assert any(re.match(r"(BroadcastHash|SortMerge|ShuffledHash)Join \[cluster", n.text) for n in plan), (
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
    plan = _final_plan(pairs)
    exchanges = [p for p in _exchanges(plan) if "hashpartitioning" in p]
    assert len(exchanges) == 1 and exchanges[0].startswith("Exchange hashpartitioning(cluster"), exchanges
    assert _has(plan, "FlatMapGroupsInPandas [cluster")
    assert not any("Join" in n or n == "CartesianProduct" for n in _names(plan))


def test_d10_no_pair_join_and_hashed_stream(plans):
    """Span dedup is linear in the token stream: the only join is the
    LeftSemi hit-marking join on the 64-bit shingle hash — no pair join,
    no shingle STRINGS in any exchange, and the doc-freq aggregate runs
    with a map-side partial."""
    plan = plans["d10_duplicated_spans"]
    joins = [n.jnode.joinType().toString() for n in plan if "Join" in n.name]
    assert joins and all(jt == "LeftSemi" for jt in joins), (
        f"d10 grew a non-semi join: {joins}"
    )
    for part in _exchanges(plan):
        assert "__sh" not in part and "shingle" not in part
    assert _has(plan, "xxhash64"), "d10 no longer hashes shingles"
    # round 13: the doc-freq agg is min/max-per-hash (one exchange,
    # O(1) map-side state) instead of countDistinct (two exchanges)
    assert _has(plan, "partial_min") and _has(plan, "partial_max"), (
        "doc-freq agg lost its single-exchange min/max map-side partial"
    )
    assert not _has(plan, "partial_count"), (
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
        assert _has(plan, "partial_sum"), f"{name} lost its map-side partial"
        assert _has(plan, "HashAggregate(keys=[l_orderkey"), (
            f"{name} no longer aggregates the fact on its own key before the join"
        )
        for part in _exchanges(plan):
            assert "l_extendedprice" not in part and "l_discount" not in part


def test_t23_stays_linear_no_pair_join(plans):
    """Round-10 (VERDICT r9 item 7): packed-shard span dedup keeps the
    d10 linear shape — the span finder's only join is the LeftSemi
    hit-marking join on the 64-bit shingle hash, and the ONLY non-semi
    join is the bounded spans x doc-offsets equi-join on pack_id (span
    report side, small by construction). No pair join, hashed stream,
    map-side doc-freq partial."""
    plan = plans["t23_packed_span_dedup"]
    # the walk enters each persisted frame's cached plan once, so each
    # join node is counted once
    kinds = [n.jnode.joinType().toString() for n in plan if "Join" in n.name]
    assert kinds, "expected joins in the t23 plan"
    assert set(kinds) <= {"LeftSemi", "Inner"}, f"t23 grew a join type: {kinds}"
    assert kinds.count("Inner") == 1, (
        f"t23 should have exactly one non-semi join (offset map), got {kinds}"
    )
    for part in _exchanges(plan):
        assert "__sh" not in part and "shingle" not in part
    assert _has(plan, "xxhash64"), "t23 no longer hashes shingles"
    assert _has(plan, "partial_count"), "doc-freq agg lost its map-side partial"


def test_s01_corpus_never_shuffled(plans):
    """Exact top-k (round-4 vectorized plan): the corpus streams straight
    from the scan into the Arrow matmul scorer (MapInPandas) with NO join
    and NO exchange upstream — the query matrix rides inside the task
    closure.  Only the per-query window rank (over the per-batch-cut
    candidate rows, ~k×Q per batch) may hash-shuffle."""
    names = _names(plans["s01_cosine_topk"])
    assert "MapInPandas" in names, "s01 no longer uses the vectorized scorer"
    assert not any("Join" in n for n in names), "s01 scoring regressed to a join"
    shuffles = [p for p in _exchanges(plans["s01_cosine_topk"]) if "hashpartitioning" in p]
    assert len(shuffles) <= 2, (
        f"s01 has {len(shuffles)} hash shuffles (corpus shuffled?)"
    )
    # the scorer must consume the scan directly: no exchange between the
    # parquet read and the MapInPandas node (the walk is parents first)
    scorer_input = names[names.index("MapInPandas"):]
    scan = next(i for i, n in enumerate(scorer_input) if n.startswith("Scan parquet"))
    assert not any("Exchange" in n for n in scorer_input[:scan]), (
        "corpus is shuffled before scoring"
    )


def test_s10_query_table_built_in_jvm(spark, sf_dir):
    """s10's literal query table is a JVM-side relation: a Python-list
    ``createDataFrame`` scans as ``ExistingRDD`` and runs Python workers
    in every stage that reads it."""
    plan = _final_plan(workload.s10_bm25_topk(spark, sf_dir))
    assert not any("ExistingRDD" in n for n in _names(plan))


def test_b09_asof_single_shuffle_no_range_blowup(plans):
    """As-of join is the union+window plan: one shuffle on the join key,
    no range cross-product."""
    assert "Window" in _names(plans["b09_asof"]), "b09_asof no longer uses the window plan"


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
    assert sum("hashpartitioning" in x for x in _exchanges(p)) == 1, (
        "evt03 grew a second shuffle"
    )
    # round 12 (EVT03_DECOMP_r12.json): the shuffled row is encoded
    # map-side — epoch-us long + scaled_long(value,4) — so the window
    # passes and the session aggregate never touch a decimal; a decimal
    # cast reappearing in the plan is the BigDecimal slow path coming
    # back (operators/fixedpoint.py)
    assert _has(p, "unix_micros"), "evt03 lost the map-side epoch-us encode"
    assert not any(re.search(r"cast\(value(#\d+)? as decimal", n.text) for n in p), (
        "evt03's per-row decimal cast is back — windows/agg must stay on longs"
    )

    q02 = workload.QUERIES["q02_min_cost_supplier"](spark, sf_dir)
    p = _final_plan(q02)
    assert _has(p, "LeftSemi"), "q02 lost the pushed-down part-filter semi-join"
    assert "CartesianProduct" not in _names(p)

    b31 = workload.QUERIES["b31_merge_upsert"](spark, sf_dir)
    p = _final_plan(b31)
    assert _has(p, "FullOuter")
    assert not {"CartesianProduct", "BroadcastNestedLoopJoin"} & set(_names(p))

    b33 = workload.QUERIES["b33_fuzzy_pairs"](spark, sf_dir)
    p = _final_plan(b33)
    assert not {"CartesianProduct", "BroadcastNestedLoopJoin"} & set(_names(p))


def test_q21_single_lineitem_scan(spark, sf_dir):
    """Round-5 rewrite pin: q21 reads lineitem exactly ONCE (the
    per-order aggregate collects the failing set; no join-back scan)."""
    df = workload.QUERIES["q21_sole_failing_supplier"](spark, sf_dir)
    plan = _final_plan(df)
    n = sum("lineitem" in x.meta.get("Location", "") for x in plan)
    assert n == 1, f"q21 has {n} lineitem scans (single-scan rewrite regressed)"
    # Round-9 pin: the fact moves exactly ONCE — a single
    # hashpartitioning(l_orderkey) exchange feeds BOTH grouping levels
    # (subset partitioning satisfies the (ok, sk) distribution); the
    # only other exchanges are the tiny post-broadcast-join s_name agg
    # and the final sort.  A second fact-sized exchange means the
    # repartition lever regressed.
    fact_exchanges = [x for x in _exchanges(plan)
                      if x.startswith("Exchange hashpartitioning(l_orderkey")]
    assert len(fact_exchanges) == 1, (
        f"q21 fact shuffles {len(fact_exchanges)}x (want 1): {fact_exchanges}"
    )
    assert not any("__sk" in x for x in fact_exchanges)


def test_walker_reads_cached_subplans_and_unfiltered_scans(spark, tmp_path):
    """The one plan reader: the walk enters a persisted frame's cached
    plan without losing the outer operators (a persisted aggregate
    followed by a broadcast join, d03's shape), counts a parquet scan
    that received no pushed filter, and reads the scan's numOutputRows
    through the AQE wrapper and query stages of a query that shuffles."""
    from pyspark.sql import functions as F

    agg = spark.range(1000).groupBy((F.col("id") % 50).alias("k")).count().persist()
    joined = agg.join(F.broadcast(spark.range(50).withColumnRenamed("id", "k")), "k")
    assert len(joined.collect()) == 50
    a = audit(joined)
    agg.unpersist()
    # the cached aggregate's shuffle, and the outer broadcast join
    assert (a.shuffle_exchanges, a.broadcast_exchanges, a.broadcast_hash_joins) == (1, 1, 1)

    path = str(tmp_path / "t.parquet")
    spark.range(300).select("id", (F.col("id") % 7).alias("g")).write.parquet(path)
    grouped = spark.read.parquet(path).groupBy("g").count()
    assert len(grouped.collect()) == 7
    a = audit(grouped)
    assert (a.total_scans, a.pushed_filter_scans, a.shuffle_exchanges) == (1, 0, 1)
    assert scan_rows(grouped) == 300
