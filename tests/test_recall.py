"""Recall bounds for the approximate paths (SURVEY §2 B23/B24 oracle
column: 'recall/precision on planted dups', 'ANN by recall@k')."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etlbigdata_spark.functions import dedup as fdedup
from etlbigdata_spark.functions import similarity as fsim
from etlbigdata_spark.plans.audit import walk


def _partition_filters(df) -> str:
    """The PartitionFilters of every scan in ``df``'s plan."""
    return " ".join(n.meta.get("PartitionFilters", "") for n in walk(df))


@pytest.fixture(scope="module")
def docs(spark):
    # sf0.01 explicitly: the planted near-dup pairs (25 at J≥0.5) exist in
    # the full corpus there; sf0.001 and strided slices have none
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_recall_vs_exact_jaccard(docs):
    """MinHash+LSH candidates must recover ≥80% of truly-similar pairs
    (exact n-gram Jaccard ≥ 0.5) at a generous distance threshold."""
    exact = {
        (r.id_a, r.id_b)
        for r in fdedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    if not exact:
        pytest.skip("no high-jaccard pairs in this slice")
    approx = {
        (r.id_a, r.id_b)
        for r in fdedup.minhash_candidates(docs, "doc_id", "text", jaccard_distance_threshold=0.7).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall:.2f} over {len(exact)} exact pairs"


def test_minhash_rb_banding_bounds_candidates(docs):
    """r×b banding must keep the candidate set small: with b=16, r=2 a
    J=0.1 junk pair collides with P≈0.15 vs 0.81 at r=1 — measured at
    sf0.01 that is 42 candidate pairs vs 2987 (71×). Bound asserted with
    5× slack; regression here means the banding degenerated."""
    n_r2 = fdedup.minhash_candidates(
        docs, "doc_id", "text", num_hashes=32, bands=16, jaccard_distance_threshold=1.0
    ).count()
    fdedup.release_cached()
    assert n_r2 <= 200, f"r=2 banding produced {n_r2} candidate pairs (expected ~42)"


def test_minhash_verified_equals_exact(docs):
    """The oracle-checkable verified pipeline (recall-mode banding +
    exact verification) must reproduce the exact all-pairs result."""
    exact = {
        (r.id_a, r.id_b, r.n_shared, r.size_a, r.size_b)
        for r in fdedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    fdedup.release_cached()
    verified = {
        (r.id_a, r.id_b, r.n_shared, r.size_a, r.size_b)
        for r in fdedup.minhash_verified_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    fdedup.release_cached()
    assert verified == exact and len(exact) > 0


def test_incremental_verified_equals_exact_cross_pairs(docs):
    """Incremental dedup (batch vs corpus signature index) must return
    exactly the exact-Jaccard pairs that straddle the split — same
    guarantee as the self-join verified path, through the index join."""
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    exact_cross = {
        (r.id_a, r.id_b)
        for r in fdedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
        if (r.id_a % 3 == 0) != (r.id_b % 3 == 0)
    }
    fdedup.release_cached()
    inc = {
        (r.id_a, r.id_b)
        for r in fdedup.incremental_verified_pairs(
            batch, corpus, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    fdedup.release_cached()
    assert inc == exact_cross and len(exact_cross) > 0


def test_incremental_index_join_is_broadcast_and_corpus_shuffle_free(docs, spark):
    """The 100 TB property of the incremental path, on a PERSISTED index
    (the production shape — signatures read back from parquet): banding
    the index is pure projection (zero Exchange), and the candidate join
    is a broadcast hash join with the index on the streamed probe side —
    so the corpus contributes no shuffle at all; the only shuffles in
    the full plan are the batch signature build and the candidate-pair
    dedup, both batch-sized."""
    import tempfile

    batch = docs.filter(F.col("doc_id") % 10 == 0)
    with tempfile.TemporaryDirectory() as td:
        fdedup.minhash_signatures(
            docs.filter(F.col("doc_id") % 10 != 0), "doc_id", "text"
        ).write.mode("overwrite").parquet(td)
        index = spark.read.parquet(td)
        banded = fdedup._banded_signatures(index, 32, 16)
        band_plan = [n.name for n in walk(banded)]
        assert not any("Exchange" in n for n in band_plan), f"banding shuffled:\n{band_plan}"
        pairs = fdedup.incremental_minhash_pairs(batch, index, "doc_id", "text")
        plan = [n.name for n in walk(pairs)]
        assert "BroadcastHashJoin" in plan
        # broadcast build side = the batch; every non-broadcast Exchange
        # is batch- or candidate-sized (batch pre-explode rebalance +
        # batch sig groupBy + pair dedup); the corpus/index side stays
        # exchange-free (asserted above on the banding plan)
        n_shuffles = plan.count("Exchange")
        assert n_shuffles <= 3, f"corpus side shuffled:\n{plan}"
        pairs.count()  # the plan must also execute against the round-tripped index


def test_incremental_signatures_compatible_across_builds(docs, spark):
    """Signatures persisted in one job must join against signatures
    built later (seed-pinned hash family): round-trip the index through
    parquet and re-find a planted exact duplicate at distance 0."""
    import tempfile

    corpus = docs.filter(F.col("doc_id") < 400)
    dup_doc = corpus.filter(F.col("doc_id") == 7).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    with tempfile.TemporaryDirectory() as td:
        fdedup.minhash_signatures(corpus, "doc_id", "text").write.mode("overwrite").parquet(td)
        index = spark.read.parquet(td)
        hits = fdedup.incremental_minhash_pairs(
            dup_doc, index, "doc_id", "text", jaccard_distance_threshold=0.0
        ).collect()
        assert any(r.id_corpus == 7 and r.id_batch == 100007 and r.jaccard_dist == 0.0 for r in hits)


def test_release_cached_drops_all_blocks(docs, spark):
    """The dedup family's persisted intermediates must be releasable:
    after release_cached() the storage layer holds no cached RDDs (the
    round-1 leak accumulated blocks across a long session)."""
    # Compare persistent-RDD ID SETS, not counts: a shared session may
    # hold blocks from earlier tests (localCheckpoint RDDs among them)
    # that the JVM context cleaner reclaims asynchronously MID-test, so
    # count deltas race; the invariant is that no id ADDED by this
    # test's calls survives release_cached().
    fdedup.release_cached()  # flush leftovers so added ids are ours

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = ids()
    fdedup.minhash_candidates(docs, "doc_id", "text").count()
    fdedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5, max_doc_freq=50).count()
    added = ids() - before
    assert added, "test expected the dedup calls to persist intermediates"
    fdedup.release_cached()
    leaked = ids() & added
    assert not leaked, f"RDD ids {leaked} still cached after release_cached()"


def test_release_cached_is_one_registry_across_text_and_dedup(docs):
    """functions.text and functions.dedup share one scoped-persist
    registry: a dedup query's entry release (fdedup.release_cached())
    also frees what a text query persisted, such as t14's vocab table."""
    from pyspark import StorageLevel

    from etlbigdata_spark.functions import text as ftext

    fdedup.release_cached()
    ftext.unigram_surprisal(docs).count()
    frames = list(ftext._LIVE_CACHE)
    assert frames, "unigram_surprisal expected to persist its vocab table"
    fdedup.release_cached()
    assert [f.storageLevel for f in frames] == [StorageLevel.NONE] * len(frames)


def test_connected_components_on_known_graph(spark):
    """Min-label propagation must resolve a chain (1-2-3), an isolated
    pair (5-6), and leave unpaired docs out of the label table."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    comps = {r["doc_id"]: r["component_id"] for r in fdedup.connected_components(pairs).collect()}
    fdedup.release_cached()
    assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_native_string_ids(spark):
    """String vertex ids (URIs, UUIDs) resolve natively — no long cast,
    no hash space: component_id is the LEXICOGRAPHIC min reachable id,
    and a chain + isolated pair resolve exactly as the long-id graph
    does (round-7 fix: the old cast('long') made string graphs crash
    under ANSI or silently lose every edge without it)."""
    pairs = spark.createDataFrame(
        [("img/b", "img/c"), ("img/a", "img/b"), ("x/q", "x/p")],
        "id_a string, id_b string",
    )
    comps = {
        r["doc_id"]: r["component_id"]
        for r in fdedup.connected_components(pairs).collect()
    }
    fdedup.release_cached()
    assert comps == {
        "img/a": "img/a", "img/b": "img/a", "img/c": "img/a",
        "x/p": "x/p", "x/q": "x/p",
    }


def test_connected_components_bounded_cache_and_flat_plans(spark):
    """Round-4 fix: the propagation loop localCheckpoints each round's
    label table (lineage truncation — O(1) plan depth per round instead
    of one-join-deeper per round, which OOMed the driver under repeated
    runs) and registers ONLY the edge table in the module cache — a
    multi-round run must not accumulate persisted intermediates, and the
    final result's plan must be flat (no round-count-deep join tree)."""
    baseline = len(fdedup._LIVE_CACHE)
    chain = [(i, i + 1) for i in range(1, 7)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    comps = fdedup.connected_components(pairs, max_iterations=30)
    held = len(fdedup._LIVE_CACHE) - baseline
    assert held <= 1, (
        f"{held} intermediates registered after a multi-round run — the loop "
        "must not persist per-round label tables"
    )
    # lineage truncated: the returned plan reads a checkpoint scan, not a
    # tower of per-round joins
    plan = comps._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, f"unflattened lineage:\n{plan[:500]}"
    labels = {r["doc_id"]: r["component_id"] for r in comps.collect()}
    fdedup.release_cached()
    assert labels == {i: 1 for i in range(1, 8)}


def test_connected_components_warns_when_unconverged(spark):
    """A chain longer than max_iterations must not silently return wrong
    component ids."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 7)], "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="without converging"):
        fdedup.connected_components(pairs, max_iterations=2).collect()
    fdedup.release_cached()


def test_dedup_by_components_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in (1, 2, 3, 4, 5, 6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in fdedup.dedup_by_components(docs, pairs).collect())
    fdedup.release_cached()
    assert kept == [1, 4, 5]  # cluster winners 1 and 5; unpaired 4 untouched


def test_simhash_finds_exact_duplicates(spark):
    """Hamming distance 0 pairs must include every exact-text duplicate
    (sf0.1: the only SF with exact-dup rows — 8 groups)."""
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    dup_pairs = (
        docs.alias("a")
        .join(docs.alias("b"), (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    exact = {(r.id_a, r.id_b) for r in dup_pairs.collect()}
    if not exact:
        pytest.skip("no exact dups in this slice")
    sim = {
        (r.id_a, r.id_b)
        for r in fdedup.simhash_near_dups(docs, "doc_id", "text", max_hamming=0).collect()
    }
    assert exact <= sim


def test_exact_dedup_keeps_one_per_hash(docs):
    out = fdedup.exact_dedup(docs, "text", id_col="doc_id")
    assert out.count() == docs.select("text").distinct().count()
    # deterministic winner: the min doc_id of each group survives
    mins = {r[0] for r in docs.groupBy("text").agg(F.min("doc_id")).select("min(doc_id)").collect()}
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert kept == mins


def test_lsh_topk_recall_at_5(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = fsim.cosine_topk(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = fsim.lsh_topk(emb, queries, k=5, num_hash_tables=8, max_l2=2.0).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.6, f"ANN recall@5 {avg:.2f}"


def test_ivf_topk_recall_at_5(emb):
    """IVF probe path: exact cosine over the n_probe nearest cells only.
    With half the cells probed, recall@5 should be well above chance;
    probing ALL cells must equal the exact result (sanity bound)."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = fsim.cosine_topk(emb, queries, k=5, round_to=6).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = fsim.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=4, round_to=6).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.5, f"IVF recall@5 {avg:.2f}"
    # full probe == exact: the approximation is ONLY the cell cut
    full = fsim.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8, round_to=6).collect()
    assert {(r.query_id, r.neighbor_id, r.cosine) for r in full} == {
        (r.query_id, r.neighbor_id, r.cosine) for r in exact
    }


def test_embedding_near_dups_symmetry_free(emb):
    pairs = fdedup.embedding_near_dups(emb, threshold=0.95).collect()
    assert all(r.id_a < r.id_b for r in pairs)  # each pair reported once


def test_ivf_assign_covers_corpus(emb):
    assigned, cents = fsim.ivf_assign(emb, n_centroids=8)
    assert assigned.count() == emb.count()
    n_used = assigned.select("centroid").distinct().count()
    assert 1 <= n_used <= 8


def test_exploded_shingles_matches_word_shingles(spark):
    """The two-step tokenize-then-shingle plan (perf path) must produce
    exactly the same (id, shingle) multiset as the single-expression
    word_shingles it replaced."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a b"),                       # shorter than n -> no shingles
         (3, "x y z x y z x y z"),         # repeated shingles -> distinct
         (4, "  spaced   out\ttokens \n here  ")],
        ["doc_id", "text"],
    )
    fast = {(r.id, r.shingle) for r in fdedup.exploded_shingles(df, "doc_id", "text", 3).collect()}
    slow = {
        (r.id, r.shingle)
        for r in df.select(
            F.col("doc_id").alias("id"),
            F.explode(fdedup.word_shingles(F.col("text"), 3)).alias("shingle"),
        ).collect()
    }
    assert fast == slow and len(fast) > 0


def test_jaccard_threshold_monotone(docs):
    """Raising the Jaccard threshold can only shrink the pair set, and
    every reported pair's jaccard respects its threshold."""
    lo = fdedup.ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=50).collect()
    hi = fdedup.ngram_jaccard_pairs(docs, threshold=0.7, max_doc_freq=50).collect()
    lo_pairs = {(r.id_a, r.id_b) for r in lo}
    hi_pairs = {(r.id_a, r.id_b) for r in hi}
    assert hi_pairs <= lo_pairs
    assert all(r.jaccard >= 0.3 for r in lo)
    assert all(r.jaccard >= 0.7 for r in hi)


def test_cosine_topk_vectorized_equals_expression_path(spark, sf_dir):
    """B24 round-4: the BLAS-matmul scorer (with its per-batch lossless
    candidate cut) must return EXACTLY the expression-path result —
    same ids, same rounded scores, same ranks."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    fast = fsim.cosine_topk(emb, queries, k=7, round_to=6, vectorized=True)
    slow = fsim.cosine_topk(emb, queries, k=7, round_to=6, vectorized=False)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, fast.collect()), key=lambda t: (t[0], t[3])) == \
           sorted(map(tuple, slow.collect()), key=lambda t: (t[0], t[3]))


def test_simhash_block_tables_equal_banding(spark, sf_dir):
    """The Manku block-permutation candidate scheme and plain banding
    both guarantee recall by pigeonhole, so on identical signatures the
    final Hamming-filtered output must be IDENTICAL — the scheme only
    changes how many junk candidates get popcount-checked (n²·20/2³²
    vs n²·4/2¹⁶ at the defaults)."""
    from etlbigdata_spark import workload

    docs = workload.load(spark, sf_dir, "documents")
    fdedup.release_cached()
    blocks = {
        (r.id_a, r.id_b, r.hamming)
        for r in fdedup.simhash_near_dups(docs, "doc_id", "text", max_hamming=3).collect()
    }
    fdedup.release_cached()
    bands = {
        (r.id_a, r.id_b, r.hamming)
        for r in fdedup.simhash_near_dups(
            docs, "doc_id", "text", max_hamming=3, scheme="bands"
        ).collect()
    }
    assert blocks == bands
    fdedup.release_cached()


def test_simhash_counter_packing_widths_agree(spark):
    """counter_bits=16 (4 packed counters/long) and 32 (2/long, the
    provably-safe default) must build identical signatures on docs below
    the 16-bit overflow bound."""
    rows = [(i, f"alpha beta gamma delta w{i} x{i} y{i} z{i} common tail words here") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    a = {
        (r.id_a, r.id_b)
        for r in fdedup.simhash_near_dups(
            docs, "doc_id", "text", max_hamming=10, n_blocks=12, counter_bits=32
        ).collect()
    }
    fdedup.release_cached()
    b = {
        (r.id_a, r.id_b)
        for r in fdedup.simhash_near_dups(
            docs, "doc_id", "text", max_hamming=10, n_blocks=12, counter_bits=16
        ).collect()
    }
    assert a == b
    fdedup.release_cached()


def test_containment_catches_what_jaccard_misses(spark):
    """d08 semantics: a short doc fully quoted inside a much longer one
    has containment 1.0 but Jaccard far below any useful threshold —
    the verbatim-inclusion dedup mode (round 6)."""
    from etlbigdata_spark.functions import dedup as fdedup

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(120))
    long_doc = filler + " " + short + " " + " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "totally unrelated words only here")],
        "doc_id long, text string",
    )
    cont = fdedup.ngram_containment_pairs(df, n=5, threshold=0.8)
    rows = cont.collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert rows[0].containment == 1.0  # every 5-gram of doc 1 appears in doc 2
    # the same pair is invisible to Jaccard at any workable threshold
    jac = fdedup.ngram_jaccard_pairs(df, n=5, threshold=0.2)
    assert jac.filter("id_a = 1 AND id_b = 2").count() == 0


def test_containment_respects_doc_freq_guard(spark):
    """The hot-shingle guard drops boilerplate windows before scoring,
    exactly like d02: a window shared by ALL docs cannot create pairs."""
    from etlbigdata_spark.functions import dedup as fdedup

    boiler = "common header shared by every document here now"
    df = spark.createDataFrame(
        [(i, boiler + f" unique tail {i} a b c d e") for i in range(5)],
        "doc_id long, text string",
    )
    guarded = fdedup.ngram_containment_pairs(df, n=5, threshold=0.5, max_doc_freq=3)
    assert guarded.count() == 0  # boilerplate windows (df=5 > 3) dropped
    unguarded = fdedup.ngram_containment_pairs(df, n=5, threshold=0.5)
    assert unguarded.count() > 0  # without the guard the boilerplate pairs everything


def test_ivf_persisted_index_probe_equals_inmemory_and_prunes(emb, spark, tmp_path):
    """Round 6: ivf_write_index + ivf_probe_index must (a) reproduce the
    in-memory ivf_topk exactly (same centroid sample by construction),
    and (b) push the probed-centroid set down as PARTITION pruning on
    the on-disk index — the property that makes a probe touch
    n_probe/n_centroids of a 100 TB index's files."""
    from etlbigdata_spark.functions import similarity as fsim

    queries = emb.orderBy("vec_id").limit(5)
    path = str(tmp_path / "ivf_index")
    stats = fsim.ivf_write_index(emb, path, n_centroids=8)
    assert stats["n_centroids"] == 8

    probed = fsim.ivf_probe_index(spark, path, queries, k=5, n_probe=3, round_to=6)
    inmem = fsim.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3, round_to=6)
    got = {(r.query_id, r.rank): r.neighbor_id for r in probed.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in inmem.collect()}
    assert got == want and len(got) > 0

    assert "centroid" in _partition_filters(probed), (
        "probe scan lost its centroid partition filter (full index scan)"
    )

    # full probe == exact: same lossless bound as the in-memory path
    full = fsim.ivf_probe_index(spark, path, queries, k=5, n_probe=8, round_to=6)
    exact = fsim.cosine_topk(emb, queries, k=5, round_to=6)
    g2 = {(r.query_id, r.rank): r.neighbor_id for r in full.collect()}
    e2 = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert g2 == e2


def test_ivf_probe_exclude_self_with_colliding_ids(emb, spark, tmp_path):
    """Round-9 advice: exclude_self was only ever exercised on fixtures
    with disjoint id spaces, where True and False are indistinguishable.
    Plant genuine collisions — the query set IS a corpus subset, same
    ids, same vectors — so the self-pair (query_id == neighbor_id,
    cosine 1.0) exists in every probed cell: exclude_self=True must drop
    exactly those rows and keep everything else identical."""
    from etlbigdata_spark.functions import similarity as fsim

    path = str(tmp_path / "ivf_selfpair")
    fsim.ivf_write_index(emb, path, n_centroids=8)
    queries = emb.orderBy("vec_id").limit(4)  # ids/vectors collide with corpus

    kept = fsim.ivf_probe_index(
        spark, path, queries, n_probe=2, round_to=6, threshold=0.5,
        exclude_self=False,
    )
    dropped = fsim.ivf_probe_index(
        spark, path, queries, n_probe=2, round_to=6, threshold=0.5,
        exclude_self=True,
    )
    kept_rows = {(r.query_id, r.neighbor_id) for r in kept.collect()}
    dropped_rows = {(r.query_id, r.neighbor_id) for r in dropped.collect()}
    qids = {r.vec_id for r in queries.select("vec_id").collect()}
    self_pairs = {(q, q) for q in qids}
    assert self_pairs <= kept_rows  # every planted collision surfaced
    assert dropped_rows == kept_rows - self_pairs


def test_containment_dominates_jaccard(docs):
    """Mathematical invariant: |A∩B|/min ≥ |A∩B|/|A∪B| for every pair,
    and both finders agree on n_shared/sizes (they share the inverted-
    index core) — checked over the real corpus at n=5."""
    jac = {
        (r.id_a, r.id_b): (r.n_shared, r.size_a, r.size_b, r.jaccard)
        for r in fdedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.2, max_doc_freq=50
        ).collect()
    }
    fdedup.release_cached()
    cont = {
        (r.id_a, r.id_b): (r.n_shared, r.size_a, r.size_b, r.containment)
        for r in fdedup.ngram_containment_pairs(
            docs, "doc_id", "text", n=5, threshold=0.2, max_doc_freq=50
        ).collect()
    }
    fdedup.release_cached()
    assert jac, "expected jaccard pairs at this threshold"
    for key, (ns, sa, sb, j) in jac.items():
        assert key in cont, f"jaccard pair {key} missing from containment at same threshold"
        cns, csa, csb, c = cont[key]
        assert (cns, csa, csb) == (ns, sa, sb)  # shared core agrees
        assert c >= j - 1e-9, f"containment {c} < jaccard {j} for {key}"


def test_kmeans_inertia_monotone_on_real_embeddings(emb):
    """Lloyd's invariant: within-cluster sum of squares is non-increasing
    across iterations (each assign step and each mean step can only
    lower it); the final assignment covers the corpus with k clusters."""
    cents, assigned, hist = fsim.kmeans_fit(emb, k=8, iters=4)
    assert len(hist) == 4
    assert all(b <= a + 1e-6 for a, b in zip(hist, hist[1:])), hist
    assert hist[-1] < hist[0]  # real data, sampled init: must actually improve
    assert assigned.count() == emb.count()
    assert len(cents) == 8 and len(cents[0]) == len(emb.first()["embedding"])


def test_kmeans_matches_numpy_reference(spark):
    """Same init, same iteration count, well-separated blobs: the
    distributed Lloyd's must land on the numpy reference's centroids
    (allclose) and the identical assignment."""
    import numpy as np

    rng = np.random.default_rng(7)
    blobs = np.concatenate(
        [rng.normal(loc=c, scale=0.05, size=(40, 4)) for c in (-10.0, 0.0, 10.0)]
    )
    rows = [(i, [float(x) for x in blobs[i]]) for i in range(len(blobs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents, assigned, hist = fsim.kmeans_fit(df, k=3, iters=3)

    # numpy reference with the SAME deterministic init (hash-ordered sample)
    init_ids = [
        r["vec_id"]
        for r in df.select("vec_id").orderBy(F.xxhash64("vec_id")).limit(3).collect()
    ]
    C = blobs[init_ids].astype(np.float64)
    X = blobs.astype(np.float64)
    for _ in range(3):
        a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        for c in range(3):
            if (a == c).any():
                C[c] = X[a == c].mean(0)
    ref_assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)

    assert np.allclose(np.array(cents), C, atol=1e-9)
    got = {r["vec_id"]: r["centroid"] for r in assigned.collect()}
    assert all(got[i] == ref_assign[i] for i in range(len(blobs)))
    # blob structure recovered: each cluster is pure
    by_cluster = {}
    for i in range(len(blobs)):
        by_cluster.setdefault(got[i], set()).add(i // 40)
    assert all(len(v) == 1 for v in by_cluster.values())


def test_kmeans_repartition_stable(spark):
    """Content-addressed init + per-dimension avg: on well-separated
    data the fit is invariant to input partitioning (float partial-sum
    order can move means by ulps, which separation absorbs)."""
    import numpy as np

    rng = np.random.default_rng(11)
    blobs = np.concatenate(
        [rng.normal(loc=c, scale=0.1, size=(50, 8)) for c in (-5.0, 5.0)]
    )
    rows = [(i, [float(x) for x in blobs[i]]) for i in range(len(blobs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, a1, h1 = fsim.kmeans_fit(df, k=2, iters=3)
    _, a2, h2 = fsim.kmeans_fit(df.repartition(7), k=2, iters=3)
    m1 = {r["vec_id"]: r["centroid"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["centroid"] for r in a2.collect()}
    assert m1 == m2
    assert all(abs(x - y) < 1e-6 for x, y in zip(h1, h2))


def test_kmeans_rejects_bad_params(emb):
    with pytest.raises(ValueError):
        fsim.kmeans_fit(emb, k=0)
    with pytest.raises(ValueError):
        fsim.kmeans_fit(emb, k=2, iters=-1)


def test_quantize_embeddings_error_bound_and_shape(emb):
    """SQ8 contract: codes in [-127,127], per-component reconstruction
    error ≤ scale/254 + float32-scale slack, zero vectors get scale 1.0
    and all-zero codes, and the encoding is map-side deterministic
    (repartition-stable)."""
    import numpy as np

    q = fsim.quantize_embeddings(emb, keep_vec=True)
    rows = q.select("vec_id", "embedding", "emb_q", "emb_scale").collect()
    assert len(rows) == emb.count()
    for r in rows[:100]:
        x = np.array(list(r["embedding"]), dtype=np.float64)
        code = np.array(list(r["emb_q"]), dtype=np.float64)
        s = float(r["emb_scale"])
        assert np.abs(code).max() <= 127
        recon = code * s / 127.0
        # s is stored float32: allow one float32 ulp of s on top of s/254
        assert np.abs(recon - x).max() <= s / 254.0 + np.spacing(np.float32(s))
    again = fsim.quantize_embeddings(emb.repartition(7), keep_vec=True).collect()
    m1 = {r["vec_id"]: list(r["emb_q"]) for r in rows}
    m2 = {r["vec_id"]: list(r["emb_q"]) for r in again}
    assert m1 == m2
    # dropped float column on the default path
    assert "embedding" not in fsim.quantize_embeddings(emb).columns


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: (list(r["emb_q"]), r["emb_scale"])
           for r in fsim.quantize_embeddings(df).collect()}
    assert got[1] == ([0, 0, 0], 1.0)
    assert got[2][0][1] == -127  # max-abs component saturates exactly


def test_quantized_topk_recall_vs_exact(emb):
    """SQ8 search must be a near-drop-in for the exact path at d=64:
    recall@5 ≥ 0.9 against float cosine, scored on the int8 codes alone
    (the scale column is never read — cosine is scale-invariant)."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = fsim.cosine_topk(emb, queries, k=5, round_to=6).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    corpus_q = fsim.quantize_embeddings(emb)
    approx = fsim.cosine_topk_quantized(corpus_q, queries, k=5, round_to=6).collect()
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"SQ8 recall@5 {avg:.2f}"


def test_ivf_quantized_index_smaller_pruned_and_high_recall(emb, spark, tmp_path):
    """SQ8 IVF index: (a) the vectors side stores codes, not floats, and
    is measurably smaller on disk; (b) the probe still partition-prunes;
    (c) recall@5 vs the float-index probe at the same n_probe ≥ 0.9
    (only corpus-side quantization error remains — the per-vector scale
    cancels out of cosine)."""
    import glob
    import os

    from etlbigdata_spark.functions import similarity as fsim

    queries = emb.orderBy("vec_id").limit(5)
    fpath = str(tmp_path / "ivf_f")
    qpath = str(tmp_path / "ivf_q")
    fsim.ivf_write_index(emb, fpath, n_centroids=8)
    fsim.ivf_write_index(emb, qpath, n_centroids=8, quantize=True)

    def dir_bytes(p):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(p, "vectors", "**", "*.parquet"), recursive=True)
        )

    assert dir_bytes(qpath) < 0.6 * dir_bytes(fpath), (dir_bytes(qpath), dir_bytes(fpath))
    qcols = spark.read.parquet(f"{qpath}/vectors").columns
    assert "emb_q" in qcols and "embedding" not in qcols

    probed_q = fsim.ivf_probe_index(spark, qpath, queries, k=5, n_probe=3, round_to=6)
    assert "centroid" in _partition_filters(probed_q)

    probed_f = fsim.ivf_probe_index(spark, fpath, queries, k=5, n_probe=3, round_to=6)
    truth = {}
    for r in probed_f.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in probed_q.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"SQ8-index recall@5 vs float index {avg:.2f}"


def test_ivf_append_index_no_rescan_and_probe_complete(emb, spark, tmp_path):
    """Incremental IVF: build on half the corpus, append the rest —
    appended vectors must use the FROZEN centroid sidecar (cell ids
    stay within the build's range), the full-probe bound must now hold
    over the WHOLE corpus (probe(all cells) == exact top-k over
    build+append), and the quantized layout must stay homogeneous
    after an append."""
    from etlbigdata_spark.functions import similarity as fsim

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.orderBy("vec_id").limit(5)

    path = str(tmp_path / "ivf_inc")
    fsim.ivf_write_index(half_a, path, n_centroids=8)
    fsim.ivf_append_index(half_b, path)
    vecs = spark.read.parquet(f"{path}/vectors")
    assert vecs.count() == emb.count()
    cids = {r["centroid"] for r in vecs.select("centroid").distinct().collect()}
    assert cids <= set(range(8))  # frozen sidecar, no new cells

    full = fsim.ivf_probe_index(spark, path, queries, k=5, n_probe=8, round_to=6)
    exact = fsim.cosine_topk(emb, queries, k=5, round_to=6)
    got = {(r.query_id, r.rank): r.neighbor_id for r in full.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert got == want and len(got) == 25

    # quantized index stays homogeneous across appends
    qpath = str(tmp_path / "ivf_inc_q")
    _, cents = fsim.ivf_assign(half_a, 8)
    fsim.ivf_write_index(half_a, qpath, centroids=cents, quantize=True)
    fsim.ivf_append_index(half_b, qpath)
    qvecs = spark.read.parquet(f"{qpath}/vectors")
    assert qvecs.count() == emb.count()
    assert "emb_q" in qvecs.columns and "embedding" not in qvecs.columns
    # ...and probes identically to an all-at-once build on the same cells
    qfull = str(tmp_path / "ivf_full_q")
    fsim.ivf_write_index(emb, qfull, centroids=cents, quantize=True)
    key = lambda p: sorted(  # noqa: E731
        tuple(r) for r in fsim.ivf_probe_index(
            spark, p, queries, k=5, n_probe=3, round_to=6
        ).collect()
    )
    assert key(qpath) == key(qfull) and len(key(qfull)) == 25


def test_ivf_append_refuses_unknown_vec_col(emb, spark, tmp_path):
    """An append whose ``vec_col`` matches neither the float layout nor
    the SQ8 layout must raise, naming the index's vector column, instead
    of landing a second file schema under ``vectors/``."""
    path = str(tmp_path / "ivf_vec_col")
    built = emb.filter(F.col("vec_id") % 2 == 0)
    fsim.ivf_write_index(built, path, n_centroids=4)
    batch = emb.filter(F.col("vec_id") % 2 == 1).withColumnRenamed("embedding", "vec")
    with pytest.raises(ValueError, match="embedding"):
        fsim.ivf_append_index(batch, path, vec_col="vec")
    assert spark.read.parquet(f"{path}/vectors").count() == built.count()


def test_ivf_index_stats_accounts_for_appends(emb, spark, tmp_path):
    from etlbigdata_spark.functions import similarity as fsim

    path = str(tmp_path / "ivf_stats")
    fsim.ivf_write_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_centroids=8)
    fsim.ivf_append_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    stats = fsim.ivf_index_stats(spark, path).collect()
    assert sum(r["n_vectors"] for r in stats) == emb.count()
    assert abs(sum(r["share"] for r in stats) - 1.0) < 1e-9
    for r in stats:
        assert abs(r["balance"] - r["share"] * 8) < 1e-9


def test_semantic_dedup_pairs_finds_planted_dups_within_cells(emb, spark):
    """Planted exact duplicates (same vector, new id) MUST surface:
    identical vectors get identical argmax, so cell splitting cannot
    lose them — the designed guarantee of the SemDeDup cluster trick."""
    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 100)
    planted = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(planted)
    pairs = fsim.semantic_dedup_pairs(
        corpus, n_centroids=4, threshold=0.99
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    for i in range(10):
        assert (i, i + 5000) in found
    # planted pairs sit in one cell and score ~1.0
    assert all(r.cosine >= 0.99 for r in pairs)


def test_semantic_dedup_keep_lowest_id(emb):
    """The keep-one face drops exactly the higher id of each planted
    pair and keeps everything else."""
    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 100)
    planted = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(planted)
    kept = {
        r.vec_id
        for r in fsim.semantic_dedup(corpus, n_centroids=4, threshold=0.99).collect()
    }
    assert all(i in kept for i in range(100))
    assert all(i + 5000 not in kept for i in range(10))


def test_semantic_dedup_cells_partition_the_corpus(emb):
    """Every vector lands in exactly one cell, cells cover the corpus."""
    base = emb.select("vec_id", "embedding")
    cents = fsim.semantic_centroids(base, n_centroids=4)
    assigned = fsim._assign_cosine_argmax(base, cents, "embedding", round_to=6)
    n = base.count()
    assert assigned.count() == n
    assert assigned.filter(
        (F.col("cluster") < 0) | (F.col("cluster") >= 4)
    ).count() == 0


def test_duplicated_spans_known_layout(spark):
    """Hand-checkable span geometry: two docs share an 8-token run at
    different offsets; a third doc is unrelated.  Spans must be maximal,
    1-based inclusive, and offset-correct on BOTH sides."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, f"{shared} unique tail one two three"),
        (2, f"lead-in words here {shared}"),
        (3, "nothing in common with the others at all whatsoever today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in fdedup.duplicated_spans(
            df, n=5, min_tokens=8, min_docs=2
        ).collect()
    }
    # doc 1: shared run at tokens 1..8; doc 2: offset by the 3-token lead-in
    assert spans[1] == (1, 8, 8)
    assert spans[2] == (4, 11, 8)
    assert 3 not in spans


def test_duplicated_spans_merges_adjacent_and_respects_min_tokens(spark):
    """A single shared 5-gram (5 tokens) is below min_tokens=8 and must
    NOT be reported; a 10-token shared run must come back as ONE merged
    span, not a chain of 5-gram hits."""
    run10 = "one two three four five six seven eight nine ten"
    gram5 = "red orange yellow green blue"
    rows = [
        (1, f"{run10} xx yy"),
        (2, f"aa bb {run10}"),
        (3, f"{gram5} cc dd ee ff gg"),
        (4, f"hh ii jj kk ll {gram5}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = fdedup.duplicated_spans(df, n=5, min_tokens=8, min_docs=2)
    spans = {(r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in got.collect()}
    assert (1, 1, 10, 10) in spans
    assert (2, 3, 12, 10) in spans
    assert all(d not in {3, 4} for d, *_ in spans)


def test_duplicated_spans_within_doc_repeat_not_cross_doc(spark):
    """A run repeated WITHIN one doc but appearing in no other doc does
    not meet min_docs=2 — span dedup here is cross-document by
    contract (within-doc repetition is t13's Gopher filters)."""
    run = "p q r s t u v w"
    df = spark.createDataFrame(
        [(1, f"{run} {run}"), (2, "totally different words everywhere obviously")],
        ["doc_id", "text"],
    )
    assert fdedup.duplicated_spans(df, n=5, min_tokens=8).count() == 0


def test_pca_matches_numpy_reference(emb):
    """Distributed moment aggregation + eigh must equal numpy PCA on
    the collected corpus (same covariance, same components up to the
    shared sign convention) to float tolerance."""
    import numpy as np

    model = fsim.pca_fit(emb, k=4)
    x = np.array([list(r.embedding) for r in emb.select("embedding").collect()],
                 dtype=np.float64)
    mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:4]
    ref = evecs[:, order].T.copy()
    for row in ref:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    assert np.allclose(model["mean"], mean, atol=1e-9)
    assert np.allclose(model["explained_variance"], evals[order], rtol=1e-9)
    assert np.allclose(model["components"], ref, atol=1e-8)


def test_pca_partitioning_invariant_to_tolerance(emb):
    """Refitting under different partitioning only perturbs float
    summation order — components must agree to ~1e-9."""
    import numpy as np

    m1 = fsim.pca_fit(emb.repartition(1), k=3)
    m2 = fsim.pca_fit(emb.repartition(16), k=3)
    assert np.allclose(m1["components"], m2["components"], atol=1e-9)
    assert np.allclose(m1["explained_variance"], m2["explained_variance"], rtol=1e-9)


def test_pca_transform_reduces_reconstruction_error(emb):
    """Projections onto the top-k components must capture more variance
    than projections onto the BOTTOM eigenvectors' share — i.e. the
    explained-variance ordering is real, and transform actually applies
    the fitted basis (variance of pc1 ≈ top eigenvalue)."""
    import numpy as np
    from pyspark.sql import functions as F

    model = fsim.pca_fit(emb, k=2)
    proj = fsim.pca_transform(emb, model)
    v = (proj.select(F.element_at("pca", 1).alias("p1"),
                     F.element_at("pca", 2).alias("p2"))
         .agg(F.variance("p1").alias("v1"), F.variance("p2").alias("v2"))
         .collect()[0])
    assert abs(v.v1 - model["explained_variance"][0]) < 1e-6 * max(1.0, v.v1)
    assert abs(v.v2 - model["explained_variance"][1]) < 1e-6 * max(1.0, v.v2)
    assert v.v1 >= v.v2


def test_pca_transform_is_codegen_no_python(emb, spark):
    """The projection is literal-matrix codegen: no Python workers, no
    shuffle in the transform plan."""
    model = fsim.pca_fit(emb, k=2)
    proj = fsim.pca_transform(emb, model)
    plan = [n.name for n in walk(proj)]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert not any("Exchange" in n for n in plan)


def test_semantic_dedup_vectorized_equals_expression_path(emb):
    """The blocked-BLAS per-cell scorer and the expression cosine must
    produce the same pair set with the same rounded scores — the
    cosine_topk twin discipline applied to d09.  block_rows=3 forces
    multiple blocks per cell so the triangle bookkeeping is exercised
    across block boundaries."""
    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 120)
    planted = base.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 7000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(planted)
    cents = fsim.semantic_centroids(corpus, n_centroids=4)
    kw = dict(n_centroids=4, threshold=0.9, centroids=cents)
    expr = {
        (r.id_a, r.id_b, r.cluster, round(r.cosine, 6))
        for r in fsim.semantic_dedup_pairs(corpus, **kw).collect()
    }
    vec = {
        (r.id_a, r.id_b, r.cluster, round(r.cosine, 6))
        for r in fsim.semantic_dedup_pairs(corpus, vectorized=True, **kw).collect()
    }
    assert expr == vec and len(expr) >= 15
    vec_blocked = {
        (r.id_a, r.id_b, r.cluster, round(r.cosine, 6))
        for r in fsim._cell_pairs_vectorized(
            fsim._assign_cosine_argmax(corpus, cents, "embedding", 6),
            "vec_id", "embedding", 0.9, 6, block_rows=3,
        ).collect()
    }
    assert vec_blocked == expr


def test_new_dedup_ops_validate_arguments(spark, emb):
    """Bad parameters fail loudly at construction, not deep in a job."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        fdedup.duplicated_spans(df, min_tokens=2, n=5)  # min_tokens < n
    with _pytest.raises(ValueError):
        fdedup.duplicated_spans(df, min_docs=1)
    with _pytest.raises(ValueError):
        fsim.semantic_dedup_pairs(emb, n_centroids=0)
    with _pytest.raises(ValueError):
        fsim.semantic_dedup_pairs(emb.limit(0))


def test_cut_spans_removes_reported_spans_and_composes(spark):
    """cut_spans drops exactly the reported token ranges; docs without
    spans pass through (canonicalized); and the composition
    duplicated_spans(cut_spans(docs, spans)) finds nothing left when
    ALL occurrences are cut."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, f"{shared} unique tail one two three"),
        (2, f"lead-in words here {shared}"),
        (3, "nothing in common with the others at all whatsoever today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = fdedup.duplicated_spans(df, n=5, min_tokens=8, min_docs=2)
    cleaned = fdedup.cut_spans(df, spans)
    got = {r.doc_id: r.text for r in cleaned.collect()}
    assert got[1] == "unique tail one two three"
    assert got[2] == "lead-in words here"
    assert got[3] == rows[2][1]  # untouched (already canonical)
    assert fdedup.duplicated_spans(cleaned, n=5, min_tokens=8, min_docs=2).count() == 0


def test_cut_spans_keep_one_policy(spark):
    """The caller-side keep policy: filter the span report to exclude
    each run's lowest-doc occurrence, cut the rest — the kept doc
    retains the span, the other loses it."""
    shared = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"{shared} tail a b"), (2, f"x y z {shared}")], ["doc_id", "text"]
    )
    spans = fdedup.duplicated_spans(df, n=5, min_tokens=8, min_docs=2)
    keep_lowest = spans.groupBy().agg(F.min("doc_id").alias("keep_id"))
    to_cut = spans.join(
        keep_lowest, spans.doc_id == keep_lowest.keep_id, "left_anti"
    )
    got = {r.doc_id: r.text for r in fdedup.cut_spans(df, to_cut).collect()}
    assert got[1] == f"{shared} tail a b"
    assert got[2] == "x y z"


def test_cut_spans_empty_doc_and_no_spans(spark):
    """Empty text survives the rebuild; an empty span table is a
    canonicalizing no-op."""
    df = spark.createDataFrame([(1, ""), (2, "  Hello   World  ")], ["doc_id", "text"])
    spans = fdedup.duplicated_spans(df, n=5, min_tokens=8, min_docs=2)
    got = {r.doc_id: r.text for r in fdedup.cut_spans(df, spans).collect()}
    assert got[1] == ""
    assert got[2] == "hello world"


def test_semantic_dedup_with_kmeans_centroids(emb):
    """The production composition: kmeans_fit centroids feed
    semantic_dedup_pairs (instead of the md5 oracle sample) — planted
    exact duplicates still always collide (identical vectors share an
    argmax regardless of which centroids are used), and construction
    stays lazy (centroids precomputed)."""
    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 100)
    planted = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(planted)
    cents, _, _ = fsim.kmeans_fit(corpus, k=4, iters=2)
    pairs = fsim.semantic_dedup_pairs(
        corpus, threshold=0.99, centroids=cents, vectorized=True
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert all((i, i + 9000) in found for i in range(8))


def test_duplicated_spans_and_cut_spans_compose_with_custom_id_col(spark):
    """The span report carries the CALLER'S id column, so the
    find → cut pair composes for any id name (review fix)."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    df = spark.createDataFrame(
        [(1, f"{shared} tail"), (2, f"pre {shared}")], ["my_id", "text"]
    )
    spans = fdedup.duplicated_spans(df, id_col="my_id", n=5, min_tokens=8)
    assert "my_id" in spans.columns
    cleaned = fdedup.cut_spans(df, spans, id_col="my_id")
    got = {r.my_id: r.text for r in cleaned.collect()}
    assert got[1] == "tail" and got[2] == "pre"


def test_pca_fit_is_stable_under_large_mean_offset(spark):
    """Shifted-moment accumulation: a corpus offset by 1e6 must produce
    the same components as the centered corpus (the naive XᵀX − mean·Σx
    form loses ~12 digits to cancellation there; review fix)."""
    import numpy as np

    rng = np.random.default_rng(3)
    x = rng.normal(0, 1, (200, 6))
    rows_c = [(i, [float(v) for v in x[i]]) for i in range(200)]
    rows_o = [(i, [float(v + 1e6) for v in x[i]]) for i in range(200)]
    centered = spark.createDataFrame(rows_c, "vec_id long, embedding array<double>")
    offset = spark.createDataFrame(rows_o, "vec_id long, embedding array<double>")
    mc = fsim.pca_fit(centered, k=3)
    mo = fsim.pca_fit(offset, k=3)
    assert np.allclose(mc["components"], mo["components"], atol=1e-6)
    assert np.allclose(
        mc["explained_variance"], mo["explained_variance"], rtol=1e-6
    )


def test_engine_dedup_near_works_for_media_methods(spark):
    """dedup_near(method="audio"/"image") must not forward id_col into
    the media pair finders (they have none) and must anti-join the
    stringified pair ids back onto the original key (review fix)."""
    import numpy as np

    from etlbigdata_spark.engine import Engine
    from etlbigdata_spark.functions import codecs

    eng = Engine(spark)
    t = np.arange(8000) / 8000.0
    env = 0.2 + 0.8 * np.abs(np.sin(2 * np.pi * 3.0 * t))
    base = (env * np.sin(2 * np.pi * 440 * t) * 12000).astype(np.int16)
    gain = (base.astype(np.float64) * 0.5).astype(np.int16)
    rng = np.random.default_rng(11)
    far = (0.7 * np.sin(2 * np.pi * 97 * t + np.cumsum(rng.normal(0, 0.05, len(t)))) * 12000).astype(np.int16)
    df = spark.createDataFrame(
        [(1, bytearray(codecs.encode_wav(8000, base))),
         (2, bytearray(codecs.encode_wav(8000, gain))),
         (3, bytearray(codecs.encode_wav(8000, far)))],
        "media_key long, blob binary",
    )
    kept = eng.dedup_near(df, method="audio", key_col="media_key", bytes_col="blob")
    assert {r.media_key for r in kept.collect()} == {1, 3}


def test_engine_dedup_near_media_with_string_keys(spark):
    """String media keys (URIs — the natural key) must actually dedup:
    connected_components runs in xxhash64 space and the min-string-key
    winner survives (review fix: the long cast used to null every edge
    and silently return the full frame)."""
    import numpy as np

    from etlbigdata_spark.engine import Engine
    from etlbigdata_spark.functions import codecs

    eng = Engine(spark)
    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    far = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("img/b.bmp", bytearray(codecs.encode_ppm(base))),
         ("img/a.bmp", bytearray(codecs.encode_ppm(base.copy()))),
         ("img/z.bmp", bytearray(codecs.encode_ppm(far)))],
        "uri string, blob binary",
    )
    kept = eng.dedup_near(df, method="image", key_col="uri", bytes_col="blob")
    assert {r.uri for r in kept.collect()} == {"img/a.bmp", "img/z.bmp"}


def test_engine_dedup_near_media_with_double_keys(spark):
    """FRACTIONAL numeric media keys go through the native-string
    components path: dedup_near stringifies non-integral keys and runs
    connected_components directly on the strings (round 7 removed the
    old hash-space fallback), so the cluster winner is the min STRING
    key — '1.5' < '2.5' lexicographically here.  Integral keys keep
    their numeric min (the IntegralType gate from the round-6 fix)."""
    import numpy as np

    from etlbigdata_spark.engine import Engine
    from etlbigdata_spark.functions import codecs

    eng = Engine(spark)
    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    far = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(2.5, bytearray(codecs.encode_ppm(base))),
         (1.5, bytearray(codecs.encode_ppm(base.copy()))),
         (9.5, bytearray(codecs.encode_ppm(far)))],
        "media_key double, blob binary",
    )
    kept = eng.dedup_near(df, method="image", key_col="media_key", bytes_col="blob")
    # min-STRING-key winner: '1.5' < '2.5'
    assert {r.media_key for r in kept.collect()} == {1.5, 9.5}


def test_pca_fit_empty_corpus_raises_descriptive_error(spark):
    """An empty corpus must fail with the clear need->=2-vectors
    ValueError, not an opaque NoneType TypeError (advice fix)."""
    import pytest as _pytest

    empty = spark.createDataFrame([], "embedding array<double>")
    with _pytest.raises(ValueError, match="got 0"):
        fsim.pca_fit(empty, k=2)


def test_dedup_near_unknown_method_raises_value_error(spark):
    from etlbigdata_spark.engine import Engine
    import pytest as _pytest

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="method must be one of"):
        Engine(spark).dedup_near(df, method="minhsh")


def test_prune_prototypes_semantics(emb):
    """hard keeps the outliers (drops top-scored), easy the opposite;
    per-cluster drop count is ceil(frac·n); frac=0 keeps everything."""
    import math

    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 200)
    cents = fsim.semantic_centroids(base, n_centroids=4)
    scored = fsim.prototype_scores(base, centroids=cents)
    sizes = {r.cluster: r.n for r in scored.groupBy("cluster").count().withColumnRenamed("count", "n").collect()}
    kept_hard = fsim.prune_prototypes(base, frac=0.25, centroids=cents, keep="hard")
    kept_sizes = {r.cluster: r.n for r in kept_hard.groupBy("cluster").count().withColumnRenamed("count", "n").collect()}
    for c, n in sizes.items():
        assert kept_sizes.get(c, 0) == n - math.ceil(n * 0.25)
    # hard drops the TOP of the score order: every kept score <= every dropped score
    dropped = scored.join(kept_hard.select("vec_id"), "vec_id", "left_anti")
    per_c_max_kept = {r.cluster: r.m for r in kept_hard.groupBy("cluster").agg(F.max("proto_cos").alias("m")).collect()}
    per_c_min_drop = {r.cluster: r.m for r in dropped.groupBy("cluster").agg(F.min("proto_cos").alias("m")).collect()}
    for c in per_c_min_drop:
        assert per_c_max_kept[c] <= per_c_min_drop[c]
    assert fsim.prune_prototypes(base, frac=0.0, centroids=cents).count() == base.count()
    import pytest as _pytest
    with _pytest.raises(ValueError):
        fsim.prune_prototypes(base, frac=1.0, centroids=cents)
    with _pytest.raises(ValueError):
        fsim.prune_prototypes(base, keep="weird", centroids=cents)


def test_hard_negatives_excludes_same_label_and_nulls(emb, spark):
    """Every returned negative has a different, non-null label; a
    null-labeled query returns nothing (unknown class can't certify a
    negative)."""
    base = emb.select("vec_id", "embedding", "label").filter(F.col("vec_id") < 100)
    withnull = base.unionByName(
        spark.createDataFrame(
            [(7777, [0.1] * 64, None)], "vec_id long, embedding array<float>, label int"
        )
    )
    qs = withnull.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 7777))
    out = fsim.hard_negatives(withnull, qs, k=5)
    rows = out.collect()
    qlab = {r.vec_id: r.label for r in qs.collect()}
    assert all(r.neighbor_label is not None and r.neighbor_label != qlab[r.query_id] for r in rows)
    assert all(r.query_id != 7777 for r in rows), "null-label query produced negatives"
    # ranks are 1..k per query, hardest (highest cosine) first
    for qid in {r.query_id for r in rows}:
        mine = sorted((r.rank, r.cosine) for r in rows if r.query_id == qid)
        assert [rk for rk, _ in mine] == list(range(1, len(mine) + 1))
        assert all(mine[i][1] >= mine[i + 1][1] for i in range(len(mine) - 1))


def test_ivf_write_index_accepts_kmeans_and_gapped_ids(emb, spark, tmp_path):
    """Round-8 advice fix: ivf_write_index(centroids=...) must accept
    BOTH centroid shapes and keep partitions/sidecar/probe on ONE id
    scheme.  (a) bare kmeans_fit centers (k×d vector list) used to
    raise on the `(i, v)` unpack; (b) gapped/out-of-order cell ids used
    to write partitions keyed by LIST POSITION while the sidecar held
    the supplied ids, so write→append→probe silently probed the wrong
    (or empty) partitions."""
    corpus = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 400)
    queries = corpus.orderBy("vec_id").limit(5)

    # (a) bare kmeans centers drop straight in
    cents, _, _ = fsim.kmeans_fit(corpus, k=4, iters=1)
    kpath = str(tmp_path / "ivf_kmeans")
    stats = fsim.ivf_write_index(corpus, kpath, centroids=cents)
    assert stats["n_centroids"] == 4
    full_k = fsim.ivf_probe_index(spark, kpath, queries, k=5, n_probe=4, round_to=6)
    exact = fsim.cosine_topk(corpus, queries, k=5, round_to=6)
    want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert {(r.query_id, r.rank): r.neighbor_id for r in full_k.collect()} == want

    # (b) gapped, out-of-order cell ids: write → append → probe must agree
    base = fsim.semantic_centroids(corpus, n_centroids=4)
    gapped = [(17, base[0][1]), (3, base[1][1]), (99, base[2][1]), (40, base[3][1])]
    gpath = str(tmp_path / "ivf_gapped")
    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)
    fsim.ivf_write_index(half_a, gpath, centroids=gapped)
    side = {r.centroid for r in spark.read.parquet(f"{gpath}/centroids").collect()}
    parts = {r.centroid for r in
             spark.read.parquet(f"{gpath}/vectors").select("centroid").distinct().collect()}
    assert side == {17, 3, 99, 40} and parts <= side
    fsim.ivf_append_index(half_b, gpath)
    full_g = fsim.ivf_probe_index(spark, gpath, queries, k=5, n_probe=4, round_to=6)
    assert {(r.query_id, r.rank): r.neighbor_id for r in full_g.collect()} == want
    # narrow probe returns real (non-empty) results from the right cells
    narrow = fsim.ivf_probe_index(spark, gpath, queries, k=5, n_probe=1, round_to=6)
    assert narrow.count() > 0

    # duplicate cell ids are a loud error, not silent partition overwrite
    with pytest.raises(ValueError, match="duplicate centroid"):
        fsim.ivf_write_index(corpus, str(tmp_path / "dup"),
                             centroids=[(1, base[0][1]), (1, base[1][1])])


def test_connected_components_type_mismatch_and_null_edges(spark):
    """Round-8 advice fix: mismatched id_a/id_b types raise a clear
    TypeError (union would silently widen), and null-id edges are
    dropped instead of flowing into the label loop."""
    mixed = spark.createDataFrame(
        [("a", 1)], "id_a string, id_b long"
    )
    with pytest.raises(TypeError, match="must share one type"):
        fdedup.connected_components(mixed)

    withnull = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (7, 8)], "id_a long, id_b long"
    )
    comp = {r.doc_id: r.component_id
            for r in fdedup.connected_components(withnull).collect()}
    # node 5's only edge was null-paired → it leaves the graph entirely
    # (absent = untouched survivor downstream in dedup_by_components)
    assert comp == {1: 1, 2: 1, 7: 7, 8: 7}


def test_semantic_dedup_blas_assignment(emb, spark):
    """Round-8 production assignment face: assign='blas' (Arrow matmul
    argmax) must (a) recover every planted exact duplicate (identical
    vectors share an argmax under ANY assignment rule), (b) honor
    caller-supplied gapped cell ids, and (c) agree with the expression
    face on the overwhelming majority of assignments (boundary vectors
    may legitimately differ — the blas face skips the cross-engine
    rounding)."""
    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 300)
    planted = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(planted)
    cents, _, _ = fsim.kmeans_fit(corpus, k=6, iters=2)
    pairs = fsim.semantic_dedup_pairs(
        corpus, threshold=0.99, centroids=cents, vectorized=True, assign="blas"
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert all((i, i + 9000) in found for i in range(8))

    # gapped ids flow through to the cluster column
    gapped = [(11, cents[0]), (42, cents[1]), (7, cents[2])]
    got = fsim._assign_cosine_argmax_blas(base, gapped, "embedding")
    cells = {r.cluster for r in got.select("cluster").distinct().collect()}
    assert cells <= {11, 42, 7} and len(cells) >= 2

    # near-total agreement with the expression face (same centroids)
    from etlbigdata_spark.functions.similarity import (
        _assign_cosine_argmax,
        _norm_centroids,
    )

    nc = _norm_centroids(cents)
    e = _assign_cosine_argmax(base, nc, "embedding", 6).select("vec_id", "cluster")
    b = fsim._assign_cosine_argmax_blas(base, nc, "embedding").select(
        "vec_id", F.col("cluster").alias("bcluster")
    )
    j = e.join(b, "vec_id")
    n = j.count()
    agree = j.filter(F.col("cluster") == F.col("bcluster")).count()
    assert agree / n >= 0.99, f"{agree}/{n}"

    with pytest.raises(ValueError, match="assign must be"):
        fsim.semantic_dedup_pairs(base, centroids=cents, assign="bogus")


def test_blas_assignment_null_embedding_matches_expression_face(emb, spark):
    """Round-9 advice: a null embedding must get a NULL assignment from
    the blas face (it used to crash the matmul with an object array),
    exactly like the expression face — switching assign modes must not
    turn a silent skip into a task failure."""
    from pyspark.sql import types as T

    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 50)
    null_row = spark.createDataFrame(
        [(99999, None)],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", base.schema["embedding"].dataType),
        ]),
    )
    corpus = base.unionByName(null_row)
    cents, _, _ = fsim.kmeans_fit(base, k=4, iters=2)
    nc = fsim._norm_centroids(cents)

    b = fsim._assign_cosine_argmax_blas(corpus, nc, "embedding")
    e = fsim._assign_cosine_argmax(corpus, nc, "embedding", 6)
    b_null = {r.vec_id for r in b.filter(F.col("cluster").isNull()).collect()}
    e_null = {r.vec_id for r in e.filter(F.col("cluster").isNull()).collect()}
    assert b_null == e_null == {99999}
    # non-null rows still get real assignments
    assert b.filter(F.col("cluster").isNotNull()).count() == 50


def test_semantic_assignment_faces_agree_on_gapped_ids(emb, spark):
    """Round-8 review fix: the expression face must emit the
    CALLER-SUPPLIED cell ids (it emitted list positions while the BLAS
    face emitted ids — the cluster column silently changed meaning when
    switching assign modes); numpy-integer ids normalize cleanly."""
    import numpy as np

    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 200)
    sample = fsim.semantic_centroids(base, n_centroids=3)
    gapped = [(np.int64(17), sample[0][1]), (3, sample[1][1]), (99, sample[2][1])]
    nc = fsim._norm_centroids(gapped)
    assert [i for i, _ in nc] == [17, 3, 99]

    e = fsim._assign_cosine_argmax(base, nc, "embedding", 6).select(
        "vec_id", "cluster"
    )
    b = fsim._assign_cosine_argmax_blas(base, nc, "embedding").select(
        "vec_id", F.col("cluster").alias("bcluster")
    )
    e_cells = {r.cluster for r in e.select("cluster").distinct().collect()}
    assert e_cells <= {17, 3, 99}
    j = e.join(b, "vec_id")
    n = j.count()
    agree = j.filter(F.col("cluster") == F.col("bcluster")).count()
    assert agree / n >= 0.99

    # keep-one face forwards the production options
    kept = fsim.semantic_dedup(
        base, centroids=[v for _, v in nc], vectorized=True, assign="blas"
    )
    assert 0 < kept.count() <= base.count()


def test_ivf_duplicate_centroid_vectors_tie_break_consistent(emb, spark, tmp_path):
    """Round-8 review fix: duplicate centroid VECTORS with out-of-order
    ids (kmeans can converge two centers) must tie-break identically at
    build, append, and probe — the build now sorts cells by id to match
    the sidecar's orderBy(centroid), so tied vectors land in the cell
    the probe actually reads."""
    corpus = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 200)
    base = fsim.semantic_centroids(corpus, n_centroids=2)
    v_dup = base[0][1]
    cents = [(17, v_dup), (3, v_dup), (40, base[1][1])]  # 17/3 tie on scores
    path = str(tmp_path / "ivf_tie")
    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)
    fsim.ivf_write_index(half_a, path, centroids=cents)
    fsim.ivf_append_index(half_b, path)
    vecs = spark.read.parquet(f"{path}/vectors")
    # every vector tied between cells 17 and 3 must be in cell 3 (min id,
    # the sidecar order) — cell 17 stays EMPTY at build and append alike
    assert vecs.filter(F.col("centroid") == 17).count() == 0
    # and a full probe equals brute force (nothing stranded)
    queries = corpus.orderBy("vec_id").limit(4)
    full = fsim.ivf_probe_index(spark, path, queries, k=3, n_probe=3, round_to=6)
    exact = fsim.cosine_topk(corpus, queries, k=3, round_to=6)
    g = {(r.query_id, r.rank): r.neighbor_id for r in full.collect()}
    e = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert g == e and len(g) > 0


def test_scaled_long_validation_raises_on_fine_grained_money(spark):
    """Round-8 review fix: fixedpoint's 2dp precondition is LOUD — a
    3dp discount raises at scan time instead of silently rounding
    revenue; validate=False opts out for pre-proven pipelines."""
    from etlbigdata_spark.operators import fixedpoint as fx

    df = spark.createDataFrame([(0.125,), (0.05,)], "d double")
    with pytest.raises(Exception, match="not 2dp money"):
        df.select(fx.scaled_long("d").alias("v")).collect()
    ok = df.select(fx.scaled_long("d", validate=False).alias("v")).collect()
    assert sorted(r.v for r in ok) == [5, 13]  # HALF_UP, documented loss


# -- product quantization (round 9) ------------------------------------
def test_pq_codes_expression_equals_blas_and_reshard_stable(emb):
    """The oracle-facing expression encoder and the production BLAS
    encoder pick identical codes (same argmin, same lowest-code
    tie-break), codes are m tinyints, and encoding is content-
    addressed: repartitioning cannot change any vector's code."""
    cb = fsim.pq_fit(emb, n_subspaces=8, n_codes=16, method="sample")
    a = {r.vec_id: tuple(r.pq_code) for r in fsim.pq_encode(emb, cb, round_to=6).collect()}
    b = {r.vec_id: tuple(r.pq_code) for r in fsim.pq_encode(emb, cb, assign="blas").collect()}
    assert a == b
    c = {
        r.vec_id: tuple(r.pq_code)
        for r in fsim.pq_encode(emb.repartition(7), cb, assign="blas").collect()
    }
    assert c == a
    assert all(len(v) == 8 and all(0 <= x < 16 for x in v) for v in a.values())
    schema = fsim.pq_encode(emb, cb).schema["pq_code"].dataType.simpleString()
    assert schema == "array<tinyint>"


def test_pq_topk_adc_lut_equals_reconstruction_scoring(emb):
    """ADC via the LUT-gather production path must equal scoring the
    explicit reconstruction (the identity q·x̂ = Σ_s q_s·c_{s,code_s}
    plus ‖x̂‖² = Σ_s ‖c‖² — disjoint subspace coordinates), row for row
    after oracle-grade rounding."""
    cb = fsim.pq_fit(emb, n_subspaces=8, n_codes=16, method="sample")
    codes = fsim.pq_encode(emb, cb, round_to=6)
    q = emb.filter(F.col("vec_id") < 5)
    ra = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in fsim.pq_topk(codes, q, cb, k=5, round_to=6, adc="expression").collect()
    }
    rb = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in fsim.pq_topk(codes, q, cb, k=5, round_to=6, adc="blas").collect()
    }
    assert ra == rb and len(ra) == 25


def test_pq_recall_kmeans_codebooks(emb):
    """Production PQ (kmeans codebooks, m=32×k=64 at d=64) holds
    recall@5-in-10 ≥ 0.8 vs exact float cosine — the budget is 32 bytes
    per vector vs 256 float32 bytes (8×); measured 0.92+ on this
    corpus.  (Sampled codebooks trade recall for cross-engine
    determinism and exist for the s09 oracle, not production.)"""
    queries = emb.filter(F.col("vec_id") < 5)
    exact = fsim.cosine_topk(emb, queries, k=5, round_to=6).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    cb = fsim.pq_fit(emb, n_subspaces=32, n_codes=64, method="kmeans", train_n=500)
    codes = fsim.pq_encode(emb, cb, assign="blas")
    got = {}
    for r in fsim.pq_topk(codes, queries, cb, k=10, round_to=6, adc="blas").collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.8, f"PQ recall@5-in-10 {avg:.2f}"


def test_pq_validation_and_null_embeddings(emb, spark):
    """Bad shapes fail loudly (dim not divisible, code budget past
    tinyint, unknown faces); a null embedding encodes to a NULL code on
    BOTH encoder faces instead of an arbitrary codeword."""
    with pytest.raises(ValueError, match="not divisible"):
        fsim.pq_fit(emb, n_subspaces=7)
    with pytest.raises(ValueError, match="tinyint"):
        fsim.pq_fit(emb, n_subspaces=8, n_codes=200)
    with pytest.raises(ValueError, match="unknown method"):
        fsim.pq_fit(emb, n_subspaces=8, method="plz")
    cb = fsim.pq_fit(emb, n_subspaces=8, n_codes=16, method="sample")
    with pytest.raises(ValueError, match="unknown assign"):
        fsim.pq_encode(emb, cb, assign="plz")
    ragged = [list(b) for b in cb]
    ragged[3] = ragged[3][:-1]
    with pytest.raises(ValueError, match="ragged"):
        fsim.pq_encode(emb, ragged)
    nulled = spark.createDataFrame(
        [(0, [0.0] * 64), (1, None)], "vec_id long, embedding array<float>"
    )
    for kw in (dict(round_to=6), dict(assign="blas")):
        rows = {r.vec_id: r.pq_code for r in fsim.pq_encode(nulled, cb, **kw).collect()}
        assert rows[1] is None and rows[0] is not None
    # round-10 (ADVICE r9): a NULL vector landing in the md5-ordered
    # training sample must be excluded, not crash np.array/len(None) —
    # fit over a corpus whose sample WOULD contain the null
    cb2 = fsim.pq_fit(nulled, n_subspaces=8, n_codes=1)
    assert len(cb2) == 8 and all(len(b) == 1 for b in cb2)


def test_assign_to_cents_blas_matches_expression(emb, spark):
    """Round-10: the BLAS assignment face (one matmul per Arrow batch)
    must agree with the expression face vector-for-vector, including a
    NULL embedding assigning NULL, and the auto cutover must route
    >= 32 centroids to blas (the interpreted-HOF trap regime)."""
    cents = [
        (i, list(r["embedding"]))
        for i, r in enumerate(emb.orderBy("vec_id").limit(40).collect())
    ]
    nulled = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame([(999999, None)], "vec_id long, embedding array<float>")
    )
    expr = {
        r.vec_id: r.centroid
        for r in fsim._assign_to_cents(nulled, cents, "embedding", method="expression").collect()
    }
    blas = {
        r.vec_id: r.centroid
        for r in fsim._assign_to_cents(nulled, cents, "embedding", method="blas").collect()
    }
    assert expr == blas
    assert blas[999999] is None
    with pytest.raises(ValueError, match="unknown method"):
        fsim._assign_to_cents(emb, cents, "embedding", method="plz")
    # the driver probe-ranking face agrees with the expression face on
    # the same 40-centroid list (query probes are (qid, cell) pairs)
    queries = emb.orderBy("vec_id").limit(5)
    pe = {(r.query_id, r.centroid)
          for r in fsim._query_probes(queries, cents, 4, "vec_id", "embedding",
                                      method="expression").collect()}
    pd_ = {(r.query_id, r.centroid)
           for r in fsim._query_probes(queries, cents, 4, "vec_id", "embedding",
                                       method="driver").collect()}
    assert pe == pd_
    with pytest.raises(ValueError, match="unknown method"):
        fsim._query_probes(queries, cents, 4, "vec_id", "embedding", method="plz")


def test_ivf_probe_vectorized_matches_expression(emb, spark, tmp_path):
    """Round-10: the vectorized probe (one BLAS matmul per batch with a
    per-row probed-cell mask) is row-for-row equal to the expression
    probe on all three index layouts (float / SQ8 / PQ) and on the
    threshold (pair-emission) face; it refuses to run without round_to
    (rounding is what absorbs summation-order differences)."""
    queries = emb.orderBy("vec_id").limit(5)
    cb = fsim.pq_fit(emb, n_subspaces=8, n_codes=16, method="sample")
    paths = {}
    for name, kw in (("f", {}), ("q", {"quantize": True}), ("p", {"pq": cb})):
        paths[name] = str(tmp_path / f"ivf_{name}")
        fsim.ivf_write_index(emb, paths[name], n_centroids=8, **kw)
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    for name, path in paths.items():
        a = key(fsim.ivf_probe_index(spark, path, queries, k=7, n_probe=3, round_to=6))
        b = key(fsim.ivf_probe_index(spark, path, queries, k=7, n_probe=3, round_to=6,
                                     vectorized=True))
        assert a == b, f"vectorized probe diverged on the {name} layout"
    a = key(fsim.ivf_probe_index(spark, paths["f"], queries, n_probe=3, round_to=6,
                                 threshold=0.2))
    b = key(fsim.ivf_probe_index(spark, paths["f"], queries, n_probe=3, round_to=6,
                                 threshold=0.2, vectorized=True))
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="round_to"):
        fsim.ivf_probe_index(spark, paths["f"], queries, vectorized=True)


def test_probe_zero_norm_vectors_excluded_both_faces(emb, spark, tmp_path):
    """Round-10 review: a zero-norm vector has NO defined cosine.  Its
    NaN used to rank FIRST under Spark's desc ordering on the
    expression face (displacing real neighbors) and to POISON the
    vectorized face's per-batch candidate cut (NaN cut drops every
    real row in the batch).  Both faces now exclude unscoreable pairs
    and stay row-for-row equal, with every real neighbor retained —
    exercised with MORE zero vectors than k so the cut-poisoning class
    can't regress silently."""
    real = emb.select("vec_id", "embedding").limit(40)
    zeros = spark.createDataFrame(
        [(10_000 + i, [0.0] * 64) for i in range(15)],
        "vec_id long, embedding array<float>",
    )
    corpus = real.unionByName(zeros)
    path = str(tmp_path / "ivf_zeros")
    fsim.ivf_write_index(corpus, path, n_centroids=4)
    queries = real.orderBy("vec_id").limit(3)
    kw = dict(k=10, n_probe=4, round_to=6)
    a = sorted(tuple(r) for r in fsim.ivf_probe_index(spark, path, queries, **kw).collect())
    b = sorted(
        tuple(r)
        for r in fsim.ivf_probe_index(spark, path, queries, vectorized=True, **kw).collect()
    )
    assert a == b
    ids = {r[1] for r in a}
    assert ids and all(i < 10_000 for i in ids), "zero vectors leaked into top-k"
    # per query all 10 slots fill from the 39 real non-self candidates
    from collections import Counter

    per_q = Counter(r[0] for r in a)
    assert set(per_q.values()) == {10}, per_q
    # threshold (pair) face: NaN pairs excluded on both faces too
    at = sorted(
        tuple(r)
        for r in fsim.ivf_probe_index(spark, path, queries, n_probe=4, round_to=6,
                                      threshold=-1.0).collect()
    )
    bt = sorted(
        tuple(r)
        for r in fsim.ivf_probe_index(spark, path, queries, n_probe=4, round_to=6,
                                      threshold=-1.0, vectorized=True).collect()
    )
    assert at == bt and all(i < 10_000 for _q, i, _c, _s in at)


def test_probe_null_and_empty_query_sets_both_faces(emb, spark, tmp_path):
    """Round-11 (ADVICE r10): (a) a NULL query vector emits NOTHING on
    either probe face — the < 32-centroid expression _query_probes face
    used to emit n_probe NULL-__qvec rows that hard-crashed the blas
    scorer's driver-side list(); (b) an empty or all-NULL query set
    returns an empty frame on the vectorized face instead of a 0-d
    matmul crash; (c) the blas kernel masks corpus rows whose cell no
    query probed (sentinel row) instead of a KeyError, so it no longer
    depends on the caller's probed-cell pre-filter."""
    real = emb.select("vec_id", "embedding").limit(40)
    path = str(tmp_path / "ivf_nullq")
    fsim.ivf_write_index(real, path, n_centroids=8)  # < 32: expression faces
    nullq = spark.createDataFrame(
        [(77_001, None)], "vec_id long, embedding array<float>"
    )
    queries = real.orderBy("vec_id").limit(3).unionByName(nullq)
    kw = dict(k=5, n_probe=3, round_to=6)
    a = sorted(tuple(r) for r in fsim.ivf_probe_index(spark, path, queries, **kw).collect())
    b = sorted(
        tuple(r)
        for r in fsim.ivf_probe_index(spark, path, queries, vectorized=True, **kw).collect()
    )
    assert a == b and len(a) == 15  # 3 real queries x k, nothing for the NULL
    assert all(q != 77_001 for q, *_rest in a)
    for qset in (queries.limit(0), nullq):  # empty and all-NULL
        for vec in (False, True):
            got = fsim.ivf_probe_index(spark, path, qset, vectorized=vec, **kw)
            assert got.count() == 0
            assert got.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    # (c) kernel-level: an UNFILTERED corpus (cells nobody probed) scores
    # identically to the pre-filtered one the production caller passes
    cents = [
        (r["centroid"], list(r["vec"]))
        for r in spark.read.parquet(f"{path}/centroids").orderBy("centroid").collect()
    ]
    q = fsim._query_probes(queries, cents, 2, "vec_id", "embedding")
    assigned_all = spark.read.parquet(f"{path}/vectors")
    probed = {r["centroid"] for r in q.select("centroid").distinct().collect()}
    assigned_cut = assigned_all.filter(F.col("centroid").isin(sorted(probed)))
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    full = key(fsim._blas_topk(assigned_all, q, 5, "vec_id", "embedding", 6))
    cut = key(fsim._blas_topk(assigned_cut, q, 5, "vec_id", "embedding", 6))
    assert full == cut and len(full) > 0


def test_pq_codebook_sidecar_dense_grid_check(emb, spark, tmp_path):
    """Round-10 (ADVICE r9): a duplicate (s, j) sidecar row plus a
    missing cell passes the total-row-count check but leaves a None
    codeword; _read_pq_sidecar must fail loudly on the torn grid."""
    cb = fsim.pq_fit(emb, n_subspaces=8, n_codes=4, method="sample")
    path = str(tmp_path / "ivf_pq_torn")
    fsim.ivf_write_index(emb, path, n_centroids=4, pq=cb)
    side = f"{path}/pq_codebooks"
    rows = spark.read.parquet(side).collect()
    # drop cell (0, 0), duplicate cell (0, 1): same total count, torn grid
    torn = [r for r in rows if not (r["s"] == 0 and r["j"] == 0)]
    torn.append([r for r in torn if r["s"] == 0 and r["j"] == 1][0])
    spark.createDataFrame(
        torn, "s int, j int, vec array<double>, residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(side)
    with pytest.raises(ValueError, match="torn"):
        fsim._read_pq_sidecar(spark, path)


def test_ivf_pq_index_smallest_pruned_recall_and_append(emb, spark, tmp_path):
    """IVF-PQ (round 9): (a) the vectors side stores m-byte codes and is
    smaller on disk than BOTH the float and the SQ8 index; (b) the
    probe still partition-prunes and needs no caller-side codebook
    state (sidecar round-trip); (c) recall@5 vs the float-index probe
    at the same n_probe >= 0.8 (only PQ error remains); (d) an append
    encodes with the FROZEN sidecar codebooks so the layout stays
    homogeneous; (e) quantize+pq together is refused."""
    import glob
    import os

    queries = emb.orderBy("vec_id").limit(5)
    cb = fsim.pq_fit(emb, n_subspaces=32, n_codes=64, method="kmeans", train_n=500)
    fpath, qpath, ppath, apath = (
        str(tmp_path / n) for n in ("ivf_f", "ivf_q", "ivf_pq", "ivf_pq_app")
    )
    # all three recall-compared indexes share ONE corpus and therefore
    # ONE deterministic centroid layout — otherwise cell divergence,
    # not PQ error, dominates the comparison
    fsim.ivf_write_index(emb, fpath, n_centroids=8)
    fsim.ivf_write_index(emb, qpath, n_centroids=8, quantize=True)
    fsim.ivf_write_index(emb, ppath, n_centroids=8, pq=cb)

    with pytest.raises(ValueError, match="ONE of"):
        fsim.ivf_write_index(emb, str(tmp_path / "x"), quantize=True, pq=cb)

    # append path: frozen sidecar codebooks keep the layout homogeneous
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    _, cents = fsim.ivf_assign(half_a, 8)
    fsim.ivf_write_index(half_a, apath, centroids=cents, pq=cb)
    fsim.ivf_append_index(half_b, apath)
    avecs = spark.read.parquet(f"{apath}/vectors")
    assert "pq_code" in avecs.columns and "embedding" not in avecs.columns
    assert avecs.count() == emb.count()  # append landed, coded
    # ...and probes identically to an all-at-once build on the same cells
    afull = str(tmp_path / "ivf_pq_full")
    fsim.ivf_write_index(emb, afull, centroids=cents, pq=cb)
    key = lambda p: sorted(  # noqa: E731
        tuple(r) for r in fsim.ivf_probe_index(
            spark, p, queries, k=5, n_probe=3, round_to=6
        ).collect()
    )
    assert key(apath) == key(afull) and len(key(afull)) == 25

    vecs = spark.read.parquet(f"{ppath}/vectors")
    assert "pq_code" in vecs.columns and "embedding" not in vecs.columns

    def dir_bytes(p):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(p, "vectors", "**", "*.parquet"), recursive=True)
        )

    assert dir_bytes(ppath) < dir_bytes(qpath) < dir_bytes(fpath), (
        dir_bytes(ppath), dir_bytes(qpath), dir_bytes(fpath),
    )

    probed_p = fsim.ivf_probe_index(spark, ppath, queries, k=5, n_probe=3, round_to=6)
    assert "centroid" in _partition_filters(probed_p)

    probed_f = fsim.ivf_probe_index(spark, fpath, queries, k=5, n_probe=3, round_to=6)
    truth, got = {}, {}
    for r in probed_f.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in probed_p.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.8, f"IVF-PQ recall@5 vs float index {avg:.2f}"


def test_ivf_pq_residual_encoding(emb, spark, tmp_path):
    """Round-11 (VERDICT r10 item 3): residual-encoded IVF-PQ (FAISS
    IndexIVFPQ formulation — codes quantize x − centroid[cell]).
    (a) Both probe faces agree row-for-row on the residual layout;
    (b) the sidecar self-describes (marker true; a raw index reads
    false) and the vectors dir stays code-only; (c) an append
    residualizes against the frozen centroids — a half+append index
    probes IDENTICALLY to the all-at-once build; (d) misuse refused
    argument-side.  The recall-recovery evidence lives in
    test_ivf_pq_residual_beats_raw_when_cells_exceed_codes and
    IVFPQ_SCALE_r11.json (2M x 64d)."""
    real = emb.select("vec_id", "embedding").limit(60)
    assigned, cents = fsim.ivf_assign(real, 8)
    residf = fsim.residualize(assigned, cents)
    cb = fsim.pq_fit(residf, n_subspaces=8, n_codes=16, method="kmeans",
                     train_n=64, vec_col="__resid")
    path = str(tmp_path / "ivf_res")
    fsim.ivf_write_index(real, path, centroids=cents, pq=cb, pq_residual=True)
    assert fsim._read_pq_sidecar(spark, path)[1]
    vecs = spark.read.parquet(f"{path}/vectors")
    assert "pq_code" in vecs.columns and "embedding" not in vecs.columns
    queries = real.orderBy("vec_id").limit(4)
    kw = dict(k=5, n_probe=3, round_to=6)
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    a = key(fsim.ivf_probe_index(spark, path, queries, **kw))
    b = key(fsim.ivf_probe_index(spark, path, queries, vectorized=True, **kw))
    assert a == b and len(a) == 20
    # (c) append homogeneity: half-build + append == all-at-once build
    apath = str(tmp_path / "ivf_res_app")
    fsim.ivf_write_index(
        real.filter(F.col("vec_id") % 2 == 0), apath,
        centroids=cents, pq=cb, pq_residual=True,
    )
    fsim.ivf_append_index(real.filter(F.col("vec_id") % 2 == 1), apath)
    assert key(fsim.ivf_probe_index(spark, apath, queries, **kw)) == a
    # (d) argument-side refusals, before any job runs
    with pytest.raises(ValueError, match="requires pq"):
        fsim.ivf_write_index(real, str(tmp_path / "x1"), pq_residual=True)
    with pytest.raises(ValueError, match="explicit centroids"):
        fsim.ivf_write_index(real, str(tmp_path / "x2"), pq=cb, pq_residual=True)


def test_ivf_pq_residual_beats_raw_when_cells_exceed_codes(spark, tmp_path):
    """The regime residual encoding exists for: when distinct cell
    centers per subspace exceed the codeword budget, raw PQ spends its
    codewords re-describing WHICH cell a vector sits in and ADC recall
    collapses (round-10 measured 0.43 at 2M x 64d / 256 cells); the
    residual variant spends them on the within-cell offset and recalls
    the same neighbors at the same byte budget.  Deterministic
    hash-generated hierarchical corpus (no RNG), so the recall values
    are exact constants — the bounds pin the ordering, not noise."""
    N, D, NC = 4000, 32, 8
    ids = spark.range(N).select(F.col("id").alias("vec_id"))
    sg = (F.abs(F.xxhash64(F.col("vec_id"))) % 64)
    dims = []
    for j in range(D):
        center = (
            (F.abs(F.xxhash64(F.concat((F.col("sg") % NC).cast("string"), F.lit(f"_c{j}")))) % 2000)
            / F.lit(1000.0) - F.lit(1.0)
        )
        sub = (
            (F.abs(F.xxhash64(F.concat(F.col("sg").cast("string"), F.lit(f"_s{j}")))) % 2000)
            / F.lit(2000.0) - F.lit(0.5)
        )
        noise = (
            (F.abs(F.xxhash64(F.concat(F.col("vec_id").cast("string"), F.lit(f"_n{j}")))) % 1000)
            / F.lit(1000.0) - F.lit(0.5)
        ) * F.lit(0.3)
        dims.append((center + F.lit(0.5) * sub + F.lit(0.15) * noise).cast("float"))
    corpus = ids.withColumn("sg", sg).select("vec_id", F.array(*dims).alias("embedding"))
    corpus = corpus.cache()
    corpus.count()
    queries = corpus.orderBy("vec_id").limit(5)
    assigned, cents = fsim.ivf_assign(corpus, NC)
    residf = fsim.residualize(assigned, cents)
    cb_res = fsim.pq_fit(residf, n_subspaces=16, n_codes=128, method="kmeans",
                         train_n=1000, vec_col="__resid")
    cb_raw = fsim.pq_fit(corpus, n_subspaces=16, n_codes=128, method="kmeans",
                         train_n=1000)
    paths = {}
    for name, kwargs in (
        ("f", {}),
        ("raw", dict(pq=cb_raw)),
        ("res", dict(pq=cb_res, pq_residual=True)),
    ):
        paths[name] = str(tmp_path / f"ivf_{name}")
        fsim.ivf_write_index(corpus, paths[name], centroids=cents, **kwargs)
    kw = dict(k=5, n_probe=3, round_to=6)

    def recall(path):
        truth, got = {}, {}
        for r in fsim.ivf_probe_index(spark, paths["f"], queries, **kw).collect():
            truth.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in fsim.ivf_probe_index(spark, path, queries, **kw).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        rs = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
        return sum(rs) / len(rs)

    raw, res = recall(paths["raw"]), recall(paths["res"])
    corpus.unpersist()
    assert res > raw + 0.1, f"residual {res:.2f} must clearly beat raw {raw:.2f}"
    assert res >= 0.4, f"residual recall {res:.2f}"


def test_pq_topk_survives_null_codes_and_null_queries(emb, spark):
    """Review regression (round 9): a corpus carrying NULL pq_code rows
    (pq_encode's output for NULL embeddings) or a query set with a NULL
    vector used to CRASH both adc faces (np.array over None / element_at
    over a null array).  Null vectors match nothing — both faces must
    skip them and return the same rows as the null-free corpus."""
    cb = fsim.pq_fit(emb, n_subspaces=8, n_codes=16, method="sample")
    base = emb.limit(20)
    nulled = base.unionByName(
        spark.createDataFrame(
            [(990, None, 0), (991, None, 1)],
            "vec_id long, embedding array<float>, label int",
        )
    )
    codes_clean = fsim.pq_encode(base, cb, assign="blas")
    codes_dirty = fsim.pq_encode(nulled, cb, assign="blas")
    q_clean = base.filter(F.col("vec_id") < 3)
    q_dirty = nulled.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 990))
    key = lambda df: {(r.query_id, r.rank, r.neighbor_id) for r in df.collect()}  # noqa: E731
    for adc in ("expression", "blas"):
        want = key(fsim.pq_topk(codes_clean, q_clean, cb, k=3, round_to=6, adc=adc))
        got = key(fsim.pq_topk(codes_dirty, q_dirty, cb, k=3, round_to=6, adc=adc))
        assert got == want, adc


def test_brute_force_faces_drop_unscoreable_pairs(spark):
    """Every brute-force top-k face on vectors that have no cosine: six
    zero-norm corpus rows in ONE partition (more than k, so a per-batch
    cut that sorts NaN as largest would drop the whole batch), a NULL
    corpus vector, a NULL query and a zero-norm query.  Both faces of
    cosine_topk, cosine_topk_quantized, and both adc faces of pq_topk
    run, agree face to face, rank no pair without a score, and keep
    every real neighbour (checked against a Python brute force)."""
    import math
    import random

    rng = random.Random(7)
    d, k = 8, 3
    real = [(i, [rng.uniform(-1.0, 1.0) for _ in range(d)]) for i in range(12)]
    rows = real + [(100 + i, [0.0] * d) for i in range(6)] + [(200, None)]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(rows, schema).coalesce(1)
    queries = spark.createDataFrame(real[:3] + [(300, None), (301, [0.0] * d)], schema)

    def key(df):
        out = sorted(tuple(r) for r in df.collect())
        assert all(c is not None and not math.isnan(c) for _q, _n, c, _r in out)
        assert {q for q, *_ in out} <= {0, 1, 2} and {n for _q, n, *_ in out} < set(range(12))
        return out

    def norm(v):
        return math.sqrt(sum(x * x for x in v))

    want = set()
    for qi, qv in real[:3]:
        cos = sorted(
            (-round(sum(a * b for a, b in zip(qv, v)) / (norm(qv) * norm(v)), 6), i)
            for i, v in real if i != qi
        )
        want |= {(qi, i, rank) for rank, (_c, i) in enumerate(cos[:k], 1)}
    faces = [
        key(fsim.cosine_topk(corpus, queries, k=k, round_to=6, vectorized=v))
        for v in (True, False)
    ]
    assert faces[0] == faces[1] and {(q, n, r) for q, n, _c, r in faces[0]} == want

    sq8 = key(fsim.cosine_topk_quantized(fsim.quantize_embeddings(corpus), queries, k=k, round_to=6))
    assert len(sq8) == 3 * k

    # a zero codeword per subspace: the zero vectors reconstruct to zero
    books = [[[0.0] * 4] + [v[s * 4 : s * 4 + 4] for _i, v in real[:3]] for s in range(2)]
    codes = fsim.pq_encode(corpus, books, assign="blas")
    faces = [
        key(fsim.pq_topk(codes, queries, books, k=k, round_to=6, adc=adc))
        for adc in ("expression", "blas")
    ]
    assert faces[0] == faces[1] and len(faces[0]) == 3 * k


def test_dedup_by_components_keep_best_policy(spark):
    """keep_by switches the canonical choice from min-id to best-score:
    max/min per component, NULL scores always lose, ties break to the
    min id, docs in no pair survive, and unknown policies raise."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    df = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, None), (10, 4.0), (11, 4.0), (99, 0.0)],
        "doc_id long, quality double",
    )
    keep = lambda **kw: {  # noqa: E731
        r.doc_id for r in fdedup.dedup_by_components(df, pairs, **kw).collect()
    }
    assert keep() == {1, 10, 99}  # min-id default unchanged
    # component {1,2,3}: max quality 9.0 -> 2; null (3) loses
    # component {10,11}: tie 4.0/4.0 -> min id 10
    assert keep(keep_by="quality") == {2, 10, 99}
    # min policy: component {1,2,3} lowest scored is 5.0 -> 1 (null still loses)
    assert keep(keep_by="quality", keep="min") == {1, 10, 99}
    with pytest.raises(ValueError, match="keep must be"):
        fdedup.dedup_by_components(df, pairs, keep_by="quality", keep="median")


def test_dedup_keep_best_nan_scores_lose_and_bad_keep_fast_fail(spark):
    """Review regression (round-9 pass 2): (a) NaN scores sort ABOVE
    every double in Spark, so an unguarded keep="max" would crown a
    NaN-scored member (0/0 ratio metrics) — NaN must lose like NULL on
    BOTH policies; (b) a bad `keep` raises even without keep_by, and
    before any component job runs."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    df = spark.createDataFrame(
        [(1, 0.9), (2, float("nan")), (7, 1.0)], "doc_id long, quality double"
    )
    got = {
        r.doc_id
        for r in fdedup.dedup_by_components(df, pairs, keep_by="quality").collect()
    }
    assert got == {1, 7}
    got_min = {
        r.doc_id
        for r in fdedup.dedup_by_components(
            df, pairs, keep_by="quality", keep="min"
        ).collect()
    }
    assert got_min == {1, 7}
    with pytest.raises(ValueError, match="keep must be"):
        fdedup.dedup_by_components(df, pairs, keep="median")  # no keep_by


def test_ivf_pq_threshold_probe_matches_ranked_and_prunes(emb, spark, tmp_path):
    """The streaming ANN probe's core (threshold-mode ivf_probe_index,
    what foreach_batch_ann_probe calls per micro-batch) works on a PQ
    index: pair emission equals the ranked probe's rows at/above the
    same cutoff (same probed cells, same rounded PQ scores), and the
    scan still partition-prunes — so the round-8 production streaming
    probe composes with the round-9 IVF-PQ layout unchanged."""
    cb = fsim.pq_fit(emb, n_subspaces=32, n_codes=64, method="kmeans", train_n=500)
    path = str(tmp_path / "ivfpq_thresh")
    fsim.ivf_write_index(emb, path, n_centroids=8, pq=cb)
    queries = emb.orderBy("vec_id").limit(5)

    thresh = 0.1
    pairs = fsim.ivf_probe_index(
        spark, path, queries, n_probe=3, round_to=6, threshold=thresh
    )
    assert "centroid" in _partition_filters(pairs)
    got = {(r.query_id, r.neighbor_id, r.cosine) for r in pairs.collect()}

    ranked = fsim.ivf_probe_index(
        spark, path, queries, k=10**6, n_probe=3, round_to=6
    )
    want = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in ranked.collect()
        if r.cosine >= thresh
    }
    assert got == want and len(got) > 0


def test_video_near_dups_frame_rules_and_gain_invariance(spark):
    """video_near_dups (mm04 core): identical concatenated-P6 videos
    pair with every sampled position at Hamming 0; a uniform brightness
    offset (different bytes!) still pairs through aHash's designed
    invariance; one sufficiently-different frame kills the pair under
    the all-positions rule; shorter videos never pair."""
    import numpy as np

    from etlbigdata_spark.functions import codecs, multimodal

    rng_frames = []
    import hashlib

    for fi in range(3):
        block, buf = hashlib.md5(f"f{fi}".encode()).digest(), bytearray()
        while len(buf) < 16 * 16 * 3:
            block = hashlib.md5(block).digest()
            buf.extend(block)
        rng_frames.append(
            (np.frombuffer(bytes(buf[: 16 * 16 * 3]), dtype=np.uint8) % 240)
            .reshape(16, 16, 3)
        )
    vid = lambda frames: b"".join(codecs.encode_ppm(f) for f in frames)  # noqa: E731
    base = [f.copy() for f in rng_frames]
    offset = [(f + 9).astype(np.uint8) for f in rng_frames]  # different bytes
    inverted_last = [rng_frames[0], rng_frames[1], (255 - rng_frames[2]).astype(np.uint8)]
    rows = [
        (1, vid(base)),
        (2, vid(base)),            # byte-identical dup of 1
        (3, vid(offset)),          # gain-shifted dup of 1 (different bytes)
        (4, vid(inverted_last)),   # frames 0,1 match; frame 2 far away
        (5, vid(base[:2])),        # too short: position 2 missing
    ]
    df = spark.createDataFrame(rows, "vid long, blob binary")
    assert rows[2][1] != rows[0][1]  # the gain plant really changes bytes
    pairs = multimodal.video_near_dups(df, "vid", "blob", n_frames=3, max_hamming=0)
    got = {(r.id_a, r.id_b): (r.n_matched, r.max_frame_hamming) for r in pairs.collect()}
    fdedup.release_cached()
    with pytest.raises(ValueError, match="n_frames"):
        multimodal.video_near_dups(df, "vid", "blob", n_frames=0)
    assert set(got) == {("1", "2"), ("1", "3"), ("2", "3")}
    assert all(v == (3, 0) for v in got.values())


# ---------------------------------------------------------------------
# pq_suggest_m — frontier-driven byte-budget selection (round 12)
# ---------------------------------------------------------------------
def test_pq_suggest_m_structure_and_determinism(emb):
    """Report contract on the real 64-d corpus: every divisor candidate
    gets err stats, non-divisors are recorded as skipped (not silently
    dropped), feasibility follows the documented rule, suggested_m is
    the smallest feasible candidate, and the whole report is
    deterministic (md5 sampling + fixed Lloyd's init — two calls must
    agree exactly)."""
    kwargs = dict(
        candidate_ms=(4, 16, 63), k=5, n_queries=6, train_n=256,
        n_codes=32, kmeans_iters=4,
    )
    rep = fsim.pq_suggest_m(emb, **kwargs)
    assert rep["dim"] == 64 and rep["residual"] is False
    assert rep["per_m"][63] == {"skipped": "dim 64 not divisible by m=63"}
    gap_ref = rep["rank_gap"]["p90"]
    assert gap_ref >= 0
    for m in (4, 16):
        v = rep["per_m"][m]
        assert v["code_bytes"] == m and v["err_p50"] >= 0
        assert v["feasible"] == (v["err_p50"] <= gap_ref)
    # finer subspaces quantize (weakly) better on real embeddings
    assert rep["per_m"][16]["err_p50"] <= rep["per_m"][4]["err_p50"]
    feasible = [m for m in (4, 16) if rep["per_m"][m]["feasible"]]
    assert rep["suggested_m"] == (min(feasible) if feasible else None)
    assert fsim.pq_suggest_m(emb, **kwargs) == rep


def test_pq_suggest_m_rejects_bad_args(emb):
    with pytest.raises(ValueError, match="n_codes"):
        fsim.pq_suggest_m(emb, n_codes=300)
    with pytest.raises(ValueError, match="candidate_ms"):
        fsim.pq_suggest_m(emb, candidate_ms=())
    with pytest.raises(ValueError, match="gap_quantile"):
        fsim.pq_suggest_m(emb, gap_quantile=1.5)


def test_pq_suggest_m_planted_near_ties_reject_coarse_budget(spark):
    """The decision the helper exists for, on a corpus built to force
    it: tight clusters of near-ties (tiny rank-10 gaps) make a coarse
    byte budget infeasible while scalar-per-dimension codes (m=dim)
    stay inside the margin — the 2M-harness frontier shape at unit-test
    size."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(8, 16))
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(150):  # 150 near-ties per cluster
            v = centers[c] + rng.normal(scale=0.01, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rep = fsim.pq_suggest_m(
        df, candidate_ms=(2, 16), k=10, n_queries=6, train_n=600,
        n_codes=64, kmeans_iters=6,
    )
    assert rep["per_m"][2]["feasible"] is False  # 2 bytes can't rank the ties
    assert rep["per_m"][16]["feasible"] is True
    assert rep["suggested_m"] == 16


@pytest.mark.slow
def test_pq_suggest_m_reproduces_r11_frontier_decision(spark):
    """VERDICT r11 item 4's done-condition: on the 2M x 64d harness
    corpus (with the persisted k-means cells, residual mode — the
    IVFPQ_FRONTIER_r11.json configuration) the helper must reach the
    frontier's decision: m=32 rate-distortion-infeasible, m=64
    feasible, suggested_m == 64.  Skip-gated on the harness data:
    scripts/ivfpq_scale_r10.py writes the corpus,
    scripts/ivfpq_scale_r11.py the m=32 k-means-cell indexes, and
    scripts/ivfpq_frontier_r11.py the ivf_pq64_res_km index read here;
    run them in that order."""
    import os

    corpus_path = "/tmp/scaled/ivfpq/corpus_n2000000"
    idx_path = "/tmp/scaled/ivfpq/ivf_pq64_res_km_n2000000/centroids"
    if not (os.path.isdir(corpus_path) and os.path.isdir(idx_path)):
        pytest.skip("2M IVF-PQ harness data not present")
    corpus = spark.read.parquet(corpus_path)
    cents = [
        (r["centroid"], list(r["vec"]))
        for r in spark.read.parquet(idx_path).orderBy("centroid").collect()
    ]
    rep = fsim.pq_suggest_m(
        corpus, candidate_ms=(32, 64), k=10, n_queries=20,
        residual_cents=cents,
    )
    assert rep["per_m"][32]["feasible"] is False
    assert rep["per_m"][64]["feasible"] is True
    assert rep["suggested_m"] == 64
