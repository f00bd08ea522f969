"""Deduplication for LLM-data pipelines (SURVEY §2 A8, B23).

The reference's dedup is whole-row ``dropDuplicates``
(``/root/reference/simple_etl.py:203-210``).  A training-data pipeline
needs the near-duplicate family too.  Scale notes per variant:

* exact       — one shuffle on a 128-bit content hash, never on the text.
* ngram-jaccard — shingle-inverted-index self-join; candidate pairs only
  where ≥1 shingle is shared (never a cross-product).
* MinHash+LSH — DataFrame-native seeded-xxhash64 signatures (explode +
  min-agg), banded; candidates only on band collisions.
* SimHash    — 64-bit signature over shingles via per-bit sign-sum aggs;
  near-dups = small Hamming distance; bucketed by signature bands.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import (  # noqa: F401  (_LIVE_CACHE, release_cached: re-exported)
    _LIVE_CACHE,
    _persist_scoped,
    rebalance_for_expansion,
    release_cached,
    tokens_col,
)

# -- cache scoping ----------------------------------------------------
# The pair-finding functions persist a fan-out intermediate (the shingle
# or signature table feeds 2-3 consumers of the same plan).  They use
# functions/text's one registry, so release_cached() here and in text
# frees the persists of both modules (and of corpus/multimodal, which
# import _persist_scoped from here).

# -- exact ------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str = "text", keep: str = "min", id_col: str = "doc_id") -> DataFrame:
    """B23/A8 — keep one doc per exact content hash. Shuffles md5(text)
    + id only; the winner rejoins to recover full rows (semi-join)."""
    h = F.md5(F.col(text_col)).alias("__h")
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    w = Window.partitionBy("__h").orderBy(order)
    keep_ids = (
        df.select(h, F.col(id_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col)
    )
    return df.join(keep_ids, id_col, "left_semi")


def duplicate_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Report exact-dup clusters: (content md5, n copies) for n>1."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# -- shingles + jaccard ----------------------------------------------
def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as array<string> (JVM-side:
    slice over a sequence of start offsets).

    NOTE: embeds the tokenizer inside the higher-order lambda, so the
    regex split re-evaluates per shingle (interpreted HOF path, no
    subexpression elimination) — fine for one-off column use, ~2× slower
    than the two-step plan for corpus work. The dedup pipelines use
    ``exploded_shingles`` instead, which tokenizes into a materialized
    array attribute first."""
    toks = tokens_col(text_col)
    return _shingle_expr(toks, n)


def shingles_from_tokens(toks_col, n: int = 3):
    """Distinct word n-gram shingles from an already-materialized token
    array column — the lambda only slices the array attribute, so the
    tokenizer runs exactly once per document."""
    t = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    return _shingle_expr(t, n)


def _shingle_expr(t, n: int):
    # docs shorter than n tokens get NO shingles; without the guard,
    # sequence(1, size-n+1) with a non-positive stop infers step=-1 and
    # yields [1, 0], and slice(start=0) throws at runtime
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(t, i, n), " "),
            )
        )
    )


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "shingle"
) -> DataFrame:
    """(id, shingle) rows: tokenize into an array attribute in one
    projection, shingle+explode from it in the next.  The input is
    rebalanced to cluster parallelism first (no-op at scale) — this
    explode is the highest-expansion stage of every pair finder built
    on it (d02/d03/d04/d08 and the incremental index build)."""
    df = rebalance_for_expansion(df)
    toked = df.select(F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("__toks"))
    return toked.select("id", F.explode(shingles_from_tokens("__toks", n)).alias(out_col))


def exploded_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "shingle"
) -> DataFrame:
    """(id, shingle-HASH) rows — :func:`exploded_shingles` for consumers
    that only ever compare shingles for equality (round 13: every pair
    finder hashed the exploded strings immediately anyway), hashed by
    :func:`_shingle_hashes`; array_distinct dedups 8-byte longs instead
    of ~30-byte strings.  The string-exact oracles would catch a 64-bit
    collision if one fired."""
    df = rebalance_for_expansion(df)
    toked = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("__toks")
    )
    hashed, grams = _shingle_hashes(toked, "id", n, distinct=True)
    return hashed.select("id", F.explode(grams).alias(out_col))


def _shingle_hashes(
    toked: DataFrame, key: str, n: int, distinct: bool
) -> tuple[DataFrame, Column]:
    """``toked`` (key, __toks) with each token's bytes hashed once
    (``__th``, xxhash64 per element) and its token count (``__sz``),
    plus the array of its word n-gram hashes, one per start position
    (array_distinct'ed when ``distinct``): each position hashes its n
    consecutive 64-bit token hashes.  That is 8n fixed bytes per
    position and no per-position string build (round 13: the old shape
    joined ~n tokens into a string for EVERY position, re-hashing each
    token's bytes n times).

    Consumers only compare shingles for equality, and the collision
    class is unchanged: tokens are whitespace-free, so the old
    space-join was injective, and two distinct shingles collide only
    via a 64-bit hash collision, the ~|shingles|²/2⁶⁴ budget the module
    already accepts.  element_at stays in bounds by the sequence's
    upper limit, so the expression is ANSI-safe."""
    hashed = toked.select(
        key,
        F.size("__toks").alias("__sz"),
        F.transform(F.col("__toks"), lambda t: F.xxhash64(t)).alias("__th"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.col("__sz") - F.lit(n - 1)),
        lambda i: F.xxhash64(*[F.element_at("__th", i + F.lit(j)) for j in range(n)]),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return hashed, F.when(F.col("__sz") < n, F.array().cast("array<bigint>")).otherwise(grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    restrict_ids: DataFrame | None = None,
) -> DataFrame:
    """B23 — candidate near-dup pairs with exact n-gram Jaccard ≥ threshold.

    Inverted-index plan: explode shingles → self-equi-join on shingle
    (pairs share ≥1 shingle) → count shared → Jaccard from set sizes.
    The only shuffles are on shingle and on the pair key; docs sharing no
    shingle never meet.

    ``max_doc_freq`` is the 100 TB skew guard: shingles appearing in more
    than that many docs (boilerplate) are dropped BEFORE the self-join —
    a hot shingle shared by k docs contributes k² candidate rows, so an
    unguarded corpus with license headers goes quadratic. The cutoff is
    applied before set sizes too, so Jaccard is computed over the
    non-boilerplate shingle sets (document + mirror the same predicate in
    any oracle).  ``restrict_ids`` limits pair finding to a doc subset
    with the frequency cutoff still counted corpus-wide (see
    :func:`_shared_counts_and_sizes`).

    Construction runs no Spark job, guarded or not: the self-join's
    strategy is left to the planner and to AQE's measured shuffle bytes
    (see :func:`_shared_counts_and_sizes`).  (A round-12 restructure
    that pre-partitioned the cache by shingle was measured and
    REVERTED; the negative result is recorded there.)
    """
    shared = _shared_counts_and_sizes(df, id_col, text_col, n, max_doc_freq, restrict_ids)
    return (
        shared.withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "size_a", "size_b", "jaccard")
    )


def _shared_counts_and_sizes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
    restrict_ids: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared, size_a, size_b) over distinct n-gram
    shingle sets — the inverted-index core shared by the Jaccard and
    containment pair finders (identical plan, different final score).

    ``restrict_ids`` (single-column DataFrame of doc ids) limits pair
    finding to that subset AFTER the corpus-level frequency cutoff —
    order matters: doc frequency must be counted over the full corpus
    or the guard's semantics (and any oracle mirroring it) drift with
    the subset."""
    # shuffle 8-byte shingle HASHES, not ~30-byte strings: the join,
    # frequency guard and size agg only need equality, and a 64-bit
    # collision altering a count has probability ~|shingles|²/2⁶⁴ —
    # unobservable below ~10⁹ distinct shingles, and the DuckDB oracle
    # (string-exact) would catch one if it ever fired.  Round 13: the
    # hashes are built straight from per-token hashes (no per-position
    # string materialization) — see exploded_shingle_hashes.
    sh = exploded_shingle_hashes(df, id_col, text_col, n)
    # The self-join's strategy is decided at runtime from measured bytes,
    # not at construction.  Sort-merge would SORT both multi-million-row
    # sides by shingle hash only to feed a pair-count aggregate that does
    # not need order (round 5 at sf1: 21.3-30.0 s SMJ vs 10.4-12.8 s SHJ).
    # A shuffled-hash build must fit execution memory, though, and per
    # partition it grows with the corpus (round 9: "Can't acquire ...
    # bytes to build hash relation" at sf30, 75 M shingle rows on 32
    # partitions); without ``max_doc_freq`` one hot shingle alone can
    # outgrow any partition.  When the join's sides are shuffled, AQE
    # covers both: it broadcasts a side that measures small, turns the
    # join into a shuffled-hash join when every post-shuffle partition is
    # under the session's maxShuffledHashJoinLocalMapThreshold, and
    # leaves the spill-safe sort-merge join otherwise.  When the doc-freq
    # guard's anti-join is itself sort-merge (a hot set too big to
    # broadcast), the cache is already partitioned and sorted by shingle,
    # and the self-join merges it with no shuffle, sort or hash build.
    # A small corpus may be broadcast before any of that: until the cache
    # is materialized, the planner sizes it from the scanned bytes, which
    # leave out the explode's fan-out.
    #
    # Round 12 NEGATIVE RESULT, kept as a warning: repartitioning the
    # stream by shingle BEFORE the guard+persist (so the self-join
    # reads a pre-partitioned cache with zero exec-time exchanges —
    # guide §2.4) measured FASTER in stage isolation (join+pair-agg
    # 2.05 -> 1.18 s at sf1) but SLOWER end-to-end (d02 4.3 -> 7.6 s
    # at sf1): with the repartition absorbed into the cached plan, the
    # doc-freq anti-join statically planned as a sort-merge instead of
    # broadcast, and the two sizes joins lost their broadcast
    # conversion — two extra full shuffles (~120 MB each at sf1) of
    # the candidate-pair table, dwarfing the two ~32 MB shingle
    # exchanges the rewrite removed.  The cache below stays
    # unpartitioned; see OPTIMIZATION_r12.md.
    if max_doc_freq is not None:
        sh = df_freq_cutoff(sh, max_doc_freq)
    if restrict_ids is not None:
        sh = sh.join(restrict_ids.toDF("id"), "id", "left_semi")
    # the shingle table feeds three consumers (sizes + both join sides);
    # persist it so the tokenizer runs once, not four times
    sh = _persist_scoped(sh)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    shared = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    return shared.join(sa, "id_a").join(sb, "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """B23 — CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) over
    distinct n-gram shingle sets ≥ threshold.

    The dedup mode Jaccard structurally misses: when one document
    contains another (a post quoting an article verbatim, a shard
    concatenating two docs, a page embedding boilerplate-wrapped copy),
    |A∩B|/|A∪B| is dragged down by the size imbalance — a 100-shingle
    doc fully contained in a 10,000-shingle doc has Jaccard ≈ 0.01 but
    containment 1.0.  Training-data pipelines dedup BOTH ways: Jaccard
    for near-identical pairs, containment for verbatim-inclusion (the
    pair class behind Lee et al. 2022's substring-level findings,
    "Deduplicating Training Data Makes Language Models Better" —
    re-expressed here at document-pair granularity so the inverted-index
    plan and its skew guard carry over unchanged).

    Default ``n=5``: longer windows than Jaccard's 3 so "shared"
    means verbatim runs of ≥5 tokens, not vocabulary overlap.  Same
    plan/scale properties as :func:`ngram_jaccard_pairs` (shared core:
    :func:`_shared_counts_and_sizes`), including ``max_doc_freq`` and
    the runtime choice of the self-join's strategy.
    """
    shared = _shared_counts_and_sizes(df, id_col, text_col, n, max_doc_freq)
    return (
        shared.withColumn(
            "containment", F.col("n_shared") / F.least("size_a", "size_b")
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_shared", "size_a", "size_b", "containment")
    )


def df_freq_cutoff(shingled: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles appearing in > max_doc_freq docs before the self-join
    — the skew guard that keeps the inverted index from exploding on
    boilerplate at 100 TB."""
    hot = (
        shingled.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    return shingled.join(hot, "shingle", "left_anti")


# -- MinHash LSH ------------------------------------------------------
def _minhash_family(num_hashes: int) -> list[tuple[int, int]]:
    """The (aᵢ, bᵢ) universal-hash coefficients over p = 2³¹−1. Seeded,
    so signatures built in different sessions/jobs are COMPATIBLE — the
    property the incremental index path depends on."""
    p = (1 << 31) - 1  # Mersenne prime, as in pyspark.ml MinHashLSH
    rng = random.Random(42)
    return [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """(id, sig) MinHash signature table — the PERSISTABLE dedup index.

    One row per document, ``num_hashes`` longs (~256 B at the default 32)
    regardless of document length: this is the artifact a 100 TB corpus
    stores (write it with ``sources.writers.write_parquet``) so later
    batches dedup against the corpus without ever re-reading its text.
    Plan: explode shingles once → ONE ``xxhash64`` per shingle → the
    minhash functions derive as universal hashes ``(aᵢ·h + bᵢ) mod p``
    (multiply-add on longs; every product stays under 2⁶² so ANSI
    overflow semantics never trip) → ``groupBy(id).min`` with map-side
    partial aggregation — scales like a word count. The hash family is
    seed-pinned (``_minhash_family``), so signatures built today join
    against signatures built last month.

    Evaluated and REJECTED (round 4, measured): a zero-shuffle per-row
    plan — ``array_min(transform(shingle_hashes, h → (a·h+b) mod p))``
    per function, no explode, no groupBy. Despite the better shuffle
    story it ran **9× slower at sf1 (d03: 47 s vs 5.4 s)**: Spark
    evaluates higher-order array lambdas interpreted — one closure call
    per element per hash function (32 × |shingles| per doc) plus a
    fresh array allocation per ``transform`` — while the explode plan
    keeps every operator inside whole-stage codegen. The shuffle it
    saves is 8-byte (id, hash) pairs with map-side combine — cheap; the
    codegen loss is not. Same conclusion as the nested-HOF simhash
    variant: on this engine, explode + codegen agg beats per-row HOF
    loops.
    """
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    if max_shingle_doc_freq:
        sh = df_freq_cutoff(sh, max_shingle_doc_freq)
    p = (1 << 31) - 1
    ab = _minhash_family(num_hashes)
    sh = sh.withColumn("__h0", F.pmod(F.xxhash64("shingle"), F.lit(p)))
    # ONE F.expr parse for the whole signature — an array of the
    # num_hashes min-aggregates — instead of one Column chain per hash
    # function plus a follow-up array() select (round 12 planning-cost
    # pass; identical aggregates/results)
    sig = F.expr(
        "array("
        + ", ".join(f"min(pmod({a} * __h0 + {b}, {p}))" for a, b in ab)
        + ")"
    ).alias("sig")
    return sh.groupBy("id").agg(sig)


def shingle_hashes_col(toks_col, n: int = 3) -> Column:
    """array<long> of hashed distinct word-n-gram shingles from a token
    array column — ONE xxhash64 per shingle, pre-reduced mod p so the
    values feed ``minhash_signature_col`` directly and agree with the
    exploded batch plan's ``__h0``."""
    p = (1 << 31) - 1
    return F.transform(
        shingles_from_tokens(toks_col, n), lambda s: F.pmod(F.xxhash64(s), F.lit(p))
    )


def minhash_signature_col(shingle_hashes, num_hashes: int = 32) -> Column:
    """PER-ROW MinHash signature expression (array<long>), same seeded
    hash family as ``minhash_signatures`` — byte-identical values, so
    row-wise signatures join against the batch-built index.

    This is the STREAMING-projection variant: a streaming pipeline
    cannot run the batch plan's explode → groupBy(id) aggregate in
    append mode, and a projection can. The higher-order-function
    evaluation is interpreted (measured 9× slower than the codegen
    explode plan for BATCH corpus builds — see ``minhash_signatures``'s
    rejection note; use that for bulk work), which is the right trade
    only where per-row cost is bounded by arrival rate, i.e. streams.
    """
    p = (1 << 31) - 1
    col = F.col(shingle_hashes) if isinstance(shingle_hashes, str) else shingle_hashes

    def _uh(a: int, b: int):
        # factory closure: PySpark derives HOF arity from the lambda's
        # parameter count, so coefficients must be captured, not defaulted
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(p))

    return F.array(
        *[F.array_min(F.transform(col, _uh(a, b))) for a, b in _minhash_family(num_hashes)]
    )


def _banded_signatures(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig, band, val) band-key table, derived from a signature
    table by PURE PROJECTION (array slicing + xxhash64 — no shuffle, no
    text): banding is recomputed at query time rather than stored, so
    the persisted index stays one compact row per doc."""
    r = num_hashes // bands
    # one F.expr parse for the whole band array (round 12 planning-cost
    # pass; identical expressions/results)
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"struct({i} AS band, "
            f"xxhash64({', '.join(f'sig[{i * r + j}]' for j in range(r))}) AS val)"
            for i in range(bands)
        )
        + ")"
    )
    return sig.select("id", "sig", F.explode(band_structs).alias("bv")).select(
        "id", "sig", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )


def _agreeing_slots(sig_a: str, sig_b: str, num_hashes: int) -> Column:
    """How many of the ``num_hashes`` signature slots of two array
    columns are equal — the numerator of the estimated Jaccard
    similarity.  Literal-indexed comparisons instead of
    ``zip_with`` + ``aggregate``: the same value, kept in whole-stage
    codegen (the repo's HOF lint rule), built as one ``F.expr`` parse
    instead of ~100 Column calls (round 12 planning-cost pass)."""
    return F.expr(
        " + ".join(f"CAST({sig_a}[{i}] = {sig_b}[{i}] AS INT)" for i in range(num_hashes))
    )


def incremental_minhash_pairs(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    jaccard_distance_threshold: float = 0.5,
) -> DataFrame:
    """B23 — dedup a NEW batch against an EXISTING corpus signature index
    (``minhash_signatures`` output, typically read back from parquet).

    The production shape at 100 TB: the corpus text is NEVER re-read and
    NEVER shuffles. The batch's signatures (small) are banded and
    broadcast; the index is banded by projection and streamed through a
    broadcast hash join — one scan of the compact signature table per
    batch, zero exchanges on the corpus side. Candidates are scored by
    signature agreement exactly like ``minhash_candidates``.

    Returns (id_corpus, id_batch, jaccard_dist estimate). A batch doc
    whose id also exists in the index matches itself at distance 0 —
    filter upstream if batch ids can overlap corpus ids.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    bsig = minhash_signatures(
        batch, id_col, text_col, shingle_n=shingle_n, num_hashes=num_hashes
    )
    bband = F.broadcast(
        _banded_signatures(bsig, num_hashes, bands)
        .withColumnRenamed("id", "id_batch")
        .withColumnRenamed("sig", "sig_batch")
    )
    iband = _banded_signatures(index, num_hashes, bands)
    cand = (
        iband.join(bband, ["band", "val"])
        .select(
            F.col("id").alias("id_corpus"),
            "id_batch",
            F.col("sig").alias("sig_corpus"),
            "sig_batch",
        )
        .dropDuplicates(["id_corpus", "id_batch"])
    )
    agree = _agreeing_slots("sig_corpus", "sig_batch", num_hashes)
    return (
        cand.withColumn("jaccard_dist", 1 - agree / F.lit(num_hashes))
        .filter(F.col("jaccard_dist") <= jaccard_distance_threshold)
        .select("id_corpus", "id_batch", "jaccard_dist")
    )


def incremental_verified_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
) -> DataFrame:
    """B23 — the oracle-checkable face of incremental dedup: recall-mode
    banding (r=1, miss P ≤ (1-J)^num_hashes) against an index built here
    from ``corpus``, then EXACT n-gram Jaccard verification restricted
    to candidate documents — output equals the exact batch×corpus pairs
    at J ≥ threshold (id_a < id_b convention, same schema as
    ``ngram_jaccard_pairs``). In production the index arrives from
    storage instead; the candidate → verify structure is identical."""
    index = minhash_signatures(
        corpus, id_col, text_col, shingle_n=n, num_hashes=num_hashes
    )
    cand = incremental_minhash_pairs(
        batch,
        index,
        id_col,
        text_col,
        shingle_n=n,
        num_hashes=num_hashes,
        bands=num_hashes,  # r=1: recall mode
        jaccard_distance_threshold=1.0,  # keep all candidates; exact verify below
    ).select(
        F.least("id_corpus", "id_batch").alias("id_a"),
        F.greatest("id_corpus", "id_batch").alias("id_b"),
    )
    cand = _persist_scoped(cand)
    ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("__cid")).distinct()
    both = corpus.unionByName(batch)
    docs_c = both.join(ids, F.col(id_col) == F.col("__cid"), "left_semi")
    exact = ngram_jaccard_pairs(docs_c, id_col, text_col, n=n, threshold=threshold)
    return exact.join(cand, ["id_a", "id_b"], "left_semi")


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    jaccard_distance_threshold: float = 0.5,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """B23 — MinHash+LSH near-dup candidates, DataFrame-native.

    Plan: explode shingles ONCE → ONE ``xxhash64`` per shingle → the
    ``num_hashes`` minhash functions derive from it as universal hashes
    ``(aᵢ·h + bᵢ) mod p`` over the prime p = 2³¹−1 (the same family
    Spark's own MinHashLSH uses; multiply-add on longs costs a fraction
    of re-hashing the string per function, and every product stays under
    2⁶² so ANSI overflow semantics can never trip) → ``groupBy(id).min``
    builds the signature with map-side partial aggregation (the
    tokenizer runs once per doc, and the signature reduction is
    associative, so this scales like a word count)
    → r×b banding: split the signature into ``bands`` bands of
    r = num_hashes/bands rows, band key = xxhash64 over the band's r
    values → self-equi-join on (band, key) → estimate Jaccard as the
    fraction of agreeing signature positions → filter. Everything stays
    in whole-stage codegen on longs — no ml pipeline, no sparse vectors,
    no Python.

    Banding math (P[candidate] = 1-(1-J^r)^b): the defaults b=16, r=2
    give 0.99 at J=0.5 and 0.15 at J=0.1. One-row bands (r=1, b=16) gave
    the same recall but let a J=0.1 junk pair collide with probability
    0.81 — at corpus scale the candidate set is dominated by junk pairs,
    which is why r≥2 matters at 100 TB. Pass ``bands=num_hashes`` for
    r=1 high-recall mode (see ``minhash_verified_pairs``).

    ``max_shingle_doc_freq`` drops boilerplate shingles before hashing
    (the 100 TB skew guard). Returns (id_a, id_b, jaccard_dist estimate).
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    sig = minhash_signatures(
        df, id_col, text_col, shingle_n=shingle_n, num_hashes=num_hashes,
        max_shingle_doc_freq=max_shingle_doc_freq,
    )
    sig = _persist_scoped(sig)  # both self-join sides read it
    # Evaluated and REJECTED (round 5, measured): banding WITHOUT the
    # sig payload (join on (id, band, val) only, then re-join the two
    # signatures from the persisted compact table for scoring) — saves
    # ~10× the shuffle bytes but adds two join stages, and measured
    # 6.3 → 7.3 s at sf1: on this engine the band join's bytes are
    # cheap relative to per-stage overhead. On a bandwidth-bound
    # cluster the trade can flip; the variant is one projection away.
    banded = _banded_signatures(sig, num_hashes, bands)
    # (round 5) shuffle_hash measured here too after d02's 2.1× win:
    # 6.5 → 6.1 s at sf1 — inside run noise; the band table is ~5×
    # smaller than d02's shingle table, so SMJ's sorts are cheap and
    # the hint stays off (same null result on the simhash block join).
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = _agreeing_slots("sig_a", "sig_b", num_hashes)
    return (
        cand.withColumn("jaccard_dist", 1 - agree / F.lit(num_hashes))
        .filter(F.col("jaccard_dist") <= jaccard_distance_threshold)
        .select("id_a", "id_b", "jaccard_dist")
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """B23 — MinHash-LSH candidates verified by EXACT n-gram Jaccard.

    The oracle-checkable face of the approximate family: the output is
    deterministic and equals the exact all-pairs result with probability
    ≥ 1 - N_pairs·(1-J)^num_hashes, because

    * candidate generation uses one-row bands (r=1, b=num_hashes), so a
      true pair at J ≥ 0.5 is missed with probability (1-J)^32 ≤ 2.3e-10
      — recall is 1.0 for any practical purpose at test SFs; a corpus
      with ~1e10 true pairs would see O(1) expected misses at
      num_hashes=32, so scale num_hashes with corpus size when the
      equality guarantee must survive the 100 TB design point, and
    * every candidate is verified with exact Jaccard computed only over
      the candidate docs, so false candidates cost work but never appear
      in the output.

    At scale this is the standard candidates→verify MinHash pipeline:
    verification touches |candidate docs| ≪ |corpus| documents, and the
    high-recall banding trades a bigger candidate set for a provable
    output — use ``minhash_candidates`` defaults (r=2) when a small
    recall loss is acceptable and candidate volume matters more.

    ``max_doc_freq`` is the hot-shingle guard applied CONSISTENTLY to
    both stages (banding over the guarded shingle sets, exact Jaccard
    over the same sets, doc frequency always counted over the FULL
    corpus), so the recall bound and the equality-to-exact guarantee
    hold verbatim over the guarded sets — mirror the predicate in any
    oracle, exactly like d02's.  What the guard does and does not buy
    (measured at sf1): it caps the BOILERPLATE-quadratic class in both
    stages (a df-9,961 hot phrase alone contributes ~50 M band
    collisions unguarded — the skew-corpus evidence), but it does NOT
    shrink r=1 banding's inherent candidate mass — Σ over pairs of
    32·J — which on the uniform corpus stays ~2.9 M pairs with or
    without the guard.  That mass is the designed price of the
    provable-recall mode; it is why this face stays out of the scale
    bench and ``minhash_candidates`` (r≥2) is the production path.
    """
    cand = minhash_candidates(
        df,
        id_col,
        text_col,
        shingle_n=n,
        num_hashes=num_hashes,
        bands=num_hashes,  # r=1: recall mode
        jaccard_distance_threshold=1.0,  # keep all candidates; exact verify below
        max_shingle_doc_freq=max_doc_freq,
    ).select("id_a", "id_b")
    ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("__cid")).distinct()
    # exact verification restricted to docs that appear in any candidate
    # pair (shingle sizes are per-doc, so the restriction does not change
    # Jaccard values), with the doc-frequency guard still counted over
    # the FULL corpus so both stages (and the oracle) see the same
    # guarded shingle sets
    exact = ngram_jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold,
        max_doc_freq=max_doc_freq, restrict_ids=ids,
    )
    return exact.join(cand, ["id_a", "id_b"], "left_semi")


# -- SimHash ----------------------------------------------------------
def _md5_hash64(col) -> Column:
    """Signed 64-bit hash from the first 16 hex chars of md5 — PORTABLE
    across engines (DuckDB: ``CAST('0x'||substr(md5(x),1,16) AS
    UBIGINT)`` yields the same bit pattern), unlike xxhash64 which is
    Spark-specific.  Used by the oracle-checkable SimHash face; the
    production path keeps xxhash64 (one codegen'd instruction vs
    md5+conv+decimal compare)."""
    dec = F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")
    return (
        F.when(
            dec >= F.lit("9223372036854775808").cast("decimal(20,0)"),
            (dec - F.lit("18446744073709551616").cast("decimal(21,0)")).cast("long"),
        )
        .otherwise(dec.cast("long"))
    )


def _simhash_signatures(toks: DataFrame, hash_expr: Column, counter_bits: int = 32) -> DataFrame:
    """(id, sig) from exploded (id, tok) rows: 64-bit SimHash where bit b
    is set iff more than half the doc's token hashes have bit b set
    (sign-sum > 0 ⇔ 2·count_b > n, computed via counts).

    The 64 per-bit counters are PACKED ``64//counter_bits`` to a long, so
    the hash-agg update path runs ``counter_bits`` sum columns instead of
    64 (measured ~1.6× on the signature stage at 2.6 M shingle rows).
    Fields can't carry into each other as long as every per-doc count
    stays under 2^counter_bits: at the default 32 that bound is 2³¹ —
    unreachable, a single doc would need >2 GB of text (Spark's string
    cap) to produce that many distinct shingles, so the packing is
    unconditionally safe. ``counter_bits=16`` (4 counters/long, fastest)
    is safe only when every doc has <65 536 distinct shingles — auto-
    selected by :func:`simhash_near_dups` when a cheap token-count probe
    proves the bound, opt-in here."""
    # The packed-counter update and the 64-term signature assembly are
    # built as SQL strings parsed by ONE F.expr call each (round 12):
    # the Column-algebra form issued ~1500 py4j round trips per plan
    # construction (~1.5 s of driver wall-clock per call, paid on every
    # re-plan), while a single JVM-side parse of the identical
    # expression tree is milliseconds. Guide §7.3 class: planning cost,
    # not execution — the physical plan and results are unchanged.
    per_long = 64 // counter_bits
    n_agg = 64 // per_long
    packed_cols = [
        F.expr(
            " + ".join(
                f"shiftleft(shiftright(__h, {g * per_long + j}) & 1, {counter_bits * j})"
                for j in range(per_long)
            )
        ).alias(f"__p{g}")
        for g in range(n_agg)
    ]
    packed = toks.select("id", hash_expr.alias("__h")).select("id", *packed_cols)
    agg = packed.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(f"__p{g}").alias(f"__p{g}") for g in range(n_agg)],
    )
    mask = (1 << counter_bits) - 1
    sig_expr = F.expr(
        " + ".join(
            f"CASE WHEN (shiftrightunsigned(__p{b // per_long}, "
            f"{counter_bits * (b % per_long)}) & {mask}) * 2 > __n "
            f"THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END"
            for b in range(64)
        )
    )
    return agg.select("id", sig_expr.alias("sig"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_n: int = 3,
    portable_hash: bool = False,
    scheme: str = "blocks",
    n_blocks: int = 6,
    band_bits: int = 16,
    counter_bits: "int | str" = "auto",
) -> DataFrame:
    """B23 — near-dup pairs by SimHash Hamming distance ≤ max_hamming.
    EAGER with ``counter_bits="auto"`` (the default): plan construction
    runs a one-row probe job (narrow scan + max-agg ``collect()``) to
    pick the counter packing, on EVERY call — pass ``counter_bits=16``
    or ``32`` explicitly when composing lazy plans, calling behind
    conditionals, or re-processing a corpus whose word-count bound is
    known by contract.

    ``portable_hash=True`` swaps xxhash64 for the md5-derived
    :func:`_md5_hash64`, making the signature reproducible in any engine
    with md5 — the oracle-checkable face (d04v). Candidate generation
    affects only WHICH pairs get popcount-checked, never the output: both
    schemes below have guaranteed recall by pigeonhole, so the result is
    EXACTLY the Hamming-≤-k pairs and the oracle can verify the whole
    pipeline all-pairs.

    ``scheme="blocks"`` (default) is the Manku/Jain/Sarma
    block-permutation LSH (WWW'07, "Detecting Near-Duplicates for Web
    Crawling"): split the 64-bit signature into ``n_blocks`` nearly-equal
    blocks; any pair with ≤ k differing bits agrees on ≥ n_blocks−k whole
    blocks, so C(n_blocks, n_blocks−k) tables, each keyed on a distinct
    (n_blocks−k)-subset of blocks, cover every such pair. Defaults
    (6 blocks, k=3 → 20 tables keyed on ~32 signature bits) make random
    junk collisions n²·20/2³² — at 50 k docs that is ~12 junk pairs where
    simple 4×16-bit banding produces ~19 M (n²·4/2¹⁶): banding hits a
    quadratic wall around 10⁵ docs because the pigeonhole forces its key
    width down to 64/(k+1) bits, while block tables keep the key wide by
    spending combinatorially more (but still tiny) fan-out. Requires
    max_hamming < n_blocks.

    ``scheme="bands"`` keeps the plain banding (64/band_bits bands; key
    width band_bits; recall guaranteed for max_hamming < 64/band_bits) —
    the right trade below ~10⁴ docs where its 4× smaller fan-out beats
    junk-pair cost.

    The banded self-join is sort-merge (spill-safe).  A shuffled-hash
    hint like d02's shingle join measured inside warm-up drift at sf1
    (round 6, alternating A/B in BOTH orders, ±0.7 s) — unlike d02
    there are no multi-million-row sorts to eliminate (the banded table
    is 20n rows, not hundreds of shingles per doc).  A reduced-table
    variant (n_blocks=5 → 10 tables) was also measured: ~6%% local win
    that INVERTS at corpus scale because key width drops 32→25.6 bits
    and junk collisions scale n²·tables/2^width — the block-count
    default optimizes the 100 TB point, not sf1.

    Features are word ``shingle_n``-gram shingles, not unigram tokens: on
    a shared-vocabulary corpus unigram signatures cluster (every doc uses
    the same common words) and any candidate join degenerates toward a
    cross-product; shingles keep unrelated docs near Hamming 32.

    Signature plan: explode shingles → hash → packed per-bit sign sums
    (see :func:`_simhash_signatures`; map-side combine, scales like a
    word count). The Hamming filter runs BEFORE the pair-dedup shuffle,
    so junk candidates die in the join stage and only true pairs (tiny)
    reach ``dropDuplicates``.
    """
    toks = exploded_shingles(df, id_col, text_col, shingle_n, out_col="tok")
    h = _md5_hash64(F.col("tok")) if portable_hash else F.xxhash64("tok")
    if counter_bits == "auto":
        # distinct shingles per doc <= word count <= (len(text)+1)/2
        # (every word is >=1 char plus a separator), so one narrow
        # max(length) scan+1-row agg (no regex tokenize, no explode, no
        # shuffle) proves whether the 16-bit packing (4 counters/long ->
        # 1/4 the agg update columns) is safe; the length bound replaces
        # the round-9 max(size(tokens)) probe, which paid a full regex
        # tokenization pass just to size counters (round 12: probe job
        # 0.53 s -> ~0.15 s at sf0.1, decision unchanged on any corpus
        # whose docs are < 128 KiB of text; longer docs conservatively
        # get 32-bit counters, which are always correct).  Pass an int
        # to skip the probe entirely (e.g. when the corpus is
        # re-processed often and the bound is known by contract).
        max_len = df.agg(F.max(F.length(F.col(text_col))).alias("m")).collect()[0]["m"]
        counter_bits = 16 if ((max_len or 0) + 1) // 2 < (1 << 16) else 32
    sig = _persist_scoped(_simhash_signatures(toks, h, counter_bits))

    return hamming_pairs_64(
        sig, max_hamming=max_hamming, scheme=scheme, n_blocks=n_blocks,
        band_bits=band_bits,
    )


def hamming_pairs_64(
    sig: DataFrame,
    max_hamming: int = 3,
    scheme: str = "blocks",
    n_blocks: int = 6,
    band_bits: int = 16,
) -> DataFrame:
    """EXACT Hamming-distance-≤-k pairs over any ``(id, sig)`` table of
    64-bit signatures — the candidate-generation + popcount core shared
    by :func:`simhash_near_dups` (text) and the perceptual image hash
    path (``multimodal.image_near_dups``); schemes and their recall
    guarantees are documented on :func:`simhash_near_dups`.  Works for
    ANY 64-bit fingerprint whose similarity notion is bit agreement."""
    if scheme == "blocks":
        if not max_hamming < n_blocks:
            raise ValueError(f"blocks scheme needs max_hamming < n_blocks, got {max_hamming} >= {n_blocks}")
    # Band/table arrays are one F.expr parse instead of per-struct
    # Column algebra (round 12, same planning-cost rationale as
    # _simhash_signatures; expressions and results unchanged).
    if scheme == "blocks":
        base, rem = divmod(64, n_blocks)
        widths = [base + 1 if i < rem else base for i in range(n_blocks)]
        offsets = [sum(widths[:i]) for i in range(n_blocks)]

        def block(i: int) -> str:
            return f"shiftrightunsigned(sig, {offsets[i]}) & {(1 << widths[i]) - 1}"

        import itertools

        combos = list(itertools.combinations(range(n_blocks), n_blocks - max_hamming))
        tables = [
            f"struct({t} AS band, xxhash64({t}, {', '.join(block(i) for i in c)}) AS val)"
            for t, c in enumerate(combos)
        ]
    elif scheme == "bands":
        n_bands = 64 // band_bits
        if not max_hamming < n_bands:
            raise ValueError(f"bands scheme needs max_hamming < 64/band_bits, got {max_hamming} >= {n_bands}")
        mask = (1 << band_bits) - 1
        tables = [
            f"struct({i} AS band, shiftright(sig, {i * band_bits}) & {mask} AS val)"
            for i in range(n_bands)
        ]
    else:
        raise ValueError(f"unknown scheme {scheme!r} (expected 'blocks' or 'bands')")

    banded = sig.select("id", "sig", F.explode(F.expr(f"array({', '.join(tables)})")).alias("bv")).select(
        "id", "sig", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# -- cluster resolution ----------------------------------------------
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters: (doc_id, component_id) where
    component_id is the minimum doc id reachable through the pair graph.
    This is the step a real dedup pipeline needs after any pair finder
    (d02/d03/d04): "keep one winner per CLUSTER", not per pair.

    Ids keep their NATIVE type: min-label propagation needs only an
    ordering, which every Spark atomic type has — long ids get the
    numeric min, string ids (URIs, UUIDs — the natural media keys) the
    lexicographic min, with no lossy cast anywhere (the previous
    ``cast('long')`` crashed on non-numeric strings under ANSI and
    nulled every edge without it).  Mismatched a/b column types raise
    loudly (union would otherwise fail or silently widen — the caller
    should pick the cast), and null-id edges are dropped before the
    label loop (a null can't carry a label and would poison the min).

    Algorithm: min-label propagation — every node starts labeled with
    itself; each round every node takes the min of its own label and its
    neighbors' labels; converges in O(graph diameter) rounds.  Each
    round is one shuffle (edge join + min-agg), all JVM-side.

    Iterative-loop hygiene (the part naive implementations get wrong):
    each round's label table is ``localCheckpoint(eager=True)``-ed, which
    BOTH materializes it AND truncates lineage, so plan depth stays O(1)
    per round instead of growing by one join per round — growing plans
    make analysis cost quadratic in rounds and eventually exhaust driver
    heap (observed: OOM under a many-graph property test).  Only the
    current and previous label tables are referenced at any time; the
    superseded ones' checkpoint storage is reclaimed by the context
    cleaner when the reference drops.  On a real cluster, executor loss
    invalidates a local checkpoint — for jobs where a mid-loop retry is
    too expensive, swap in reliable ``checkpoint()`` with a checkpoint
    dir; near-dup graphs are short-diameter (clusters are cliques-ish
    from banding), so the practical round count is 2-4 either way.
    The loop stops early the first round no label changes, and
    exhausting ``max_iterations`` without convergence warns — silent
    truncation would return WRONG component ids for any chain longer
    than the bound.
    """
    ta, tb = pairs.schema[id_a].dataType, pairs.schema[id_b].dataType
    if ta != tb:
        raise TypeError(
            f"connected_components: id columns must share one type for "
            f"min-label ordering; got {id_a}:{ta.simpleString()} vs "
            f"{id_b}:{tb.simpleString()} — cast one side explicitly"
        )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    edges = _persist_scoped(edges)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))).alias("comp"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    else:
        converged = False
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components stopped after max_iterations={max_iterations} "
            "without converging — component ids are WRONG for any chain whose "
            "diameter exceeds the bound; raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("component_id"))


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_by: str | None = None,
    keep: str = "max",
) -> DataFrame:
    """Keep one winner per near-dup cluster: docs that appear in no pair
    survive untouched; within each connected component exactly one
    member survives.  Anti-join on the loser set — the full rows never
    shuffle.

    Default policy is the deterministic min-id (the cross-engine oracle
    face).  ``keep_by=<column in df>`` switches to the PRODUCTION
    policy: keep the member with the highest (``keep="max"``, default)
    or lowest (``keep="min"``) value of that column — "keep the
    longest / highest-quality / most recent duplicate" is how real
    dedup pipelines pick canonicals, since the min-id member is often a
    truncated or boilerplate variant.  Ties (and NULL scores, which
    always lose to scored members) break to the min id, so the choice
    stays deterministic and reshard-stable.  Cost over the id policy:
    one ids+score projection joined to the component list and one
    window bounded by cluster size — the corpus rows still never
    shuffle."""
    # argument-only check FIRST (and unconditionally): a bad policy
    # must not run the multi-round component propagation before
    # raising, and a typo'd `keep` without keep_by must not silently
    # fall back to min-id
    if keep not in ("max", "min"):
        raise ValueError(f"keep must be 'max' or 'min', got {keep!r}")
    comps = connected_components(pairs, id_a, id_b)
    if keep_by is None:
        losers = comps.filter(F.col("doc_id") != F.col("component_id")).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        score = F.col(keep_by)
        if df.schema[keep_by].dataType.simpleString() in ("float", "double"):
            # NaN sorts ABOVE every real double in Spark ordering, so an
            # unguarded keep="max" would crown a NaN-scored member (0/0
            # ratio metrics produce these) — fold NaN into the NULL
            # "unscored loses" rule instead
            score = F.when(F.isnan(score), F.lit(None)).otherwise(score)
        scores = df.select(F.col(id_col).alias("doc_id"), score.alias("__s"))
        scored = comps.join(scores, "doc_id", "left")
        first = (
            F.col("__s").desc_nulls_last()
            if keep == "max"
            else F.col("__s").asc_nulls_last()
        )
        w = Window.partitionBy("component_id").orderBy(first, F.col("doc_id").asc())
        losers = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(F.col("doc_id").alias(id_col))
        )
    return df.join(losers, id_col, "left_anti")


# -- embedding near-dup ----------------------------------------------
def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_len: float = 2.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """B23 — embedding-cosine near-dup pairs via random-projection LSH on
    L2-normalized vectors (cosine ≥ t ⇔ euclidean ≤ sqrt(2-2t) after
    normalization)."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    vecs = df.select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("raw"),
    )
    normed = Normalizer(inputCol="raw", outputCol="vec", p=2.0).transform(vecs)
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=bucket_len, numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(normed)
    dist = math.sqrt(max(0.0, 2.0 - 2.0 * threshold))
    pairs = model.approxSimilarityJoin(normed, normed, dist, distCol="l2_dist")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            (1 - F.col("l2_dist") * F.col("l2_dist") / 2).alias("cosine_est"),
        )
    )


def positional_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(doc_id, pos, h) — ALL positional word n-grams (NOT distinct,
    unlike :func:`exploded_shingles`): ``pos`` is the 1-based start
    token offset, ``h`` its 64-bit hash (:func:`_shingle_hashes`).  The
    position is what :func:`duplicated_spans` needs to merge hits back
    into contiguous spans; the 8-byte hash is what keeps the wide stages
    narrow (same discipline as d02's inverted index — a 64-bit
    collision would need ~2³² distinct shingles per corpus to matter).

    ``text_col`` may already be an ``array<string>`` of canonical
    tokens (round 12 — e.g. ``corpus.packed_sequences(...,
    tokens_out=True)``); the tokenizer is then skipped, which for the
    packed-span pipeline saves a full regex re-split of text that was
    itself just built by joining token arrays (tokens are canonical —
    lowercase, whitespace-free, non-empty — so the two forms are
    exactly equal)."""
    from pyspark.sql.types import ArrayType

    df = rebalance_for_expansion(df)
    src = F.col(text_col)
    # resolve the type through the ANALYZER, not df.schema[text_col]:
    # the exact top-level StructType lookup raised KeyError for names
    # F.col resolves fine (nested 'meta.text', case-variant 'TEXT') —
    # ADVICE r12. select() is plan-only, no job.
    if not isinstance(df.select(src).schema[0].dataType, ArrayType):
        src = tokens_col(src)
    toked = df.select(F.col(id_col).alias("doc_id"), src.alias("__toks"))
    hashed, grams = _shingle_hashes(toked, "doc_id", n, distinct=False)
    return hashed.select(
        "doc_id", F.posexplode(grams).alias("__p0", "h")
    ).select("doc_id", (F.col("__p0") + 1).alias("pos"), "h")


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """B23 — cross-document duplicated-SPAN detection: the
    exact-substring dedup mode of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), at word-n-gram
    granularity instead of a suffix array.  Document-level dedup
    (exact/MinHash/SimHash/containment) misses the boilerplate CASE —
    license headers, navigation chrome, quoted paragraphs — where only
    a SPAN of each document is duplicated; this finds those spans so a
    curation pipeline can cut them instead of dropping whole docs.

    Plan (three bounded shuffles, no pair join at all):
      1. tokenize once, posexplode every positional n-gram hashed to
         64 bits (:func:`positional_shingles`) — the expansion stage,
         rebalanced to cluster parallelism;
      2. doc-frequency aggregate on the hash (map-side partial) keeps
         hashes seen in ≥ ``min_docs`` DISTINCT docs; the semi-join
         back reuses the same hash partitioning;
      3. per-doc gaps-and-islands window (``pos − row_number`` is
         constant within a consecutive run) merges adjacent duplicated
         positions into maximal spans.
    Unlike every pair finder, cost is linear in the token stream —
    there is no candidate-pair blowup to guard, so no ``max_doc_freq``
    cutoff is needed (a hot shingle just marks more spans).

    Returns ``(doc_id, span_start, span_end, span_tokens)`` — 1-based
    inclusive token offsets; a run of positions [i..j] covers tokens
    i..j+n−1, so ``span_tokens = j − i + n``.  Filtered to spans of at
    least ``min_tokens`` tokens (require ``min_tokens > n`` to demand a
    real run rather than a single shared n-gram).
    """
    if n < 1 or min_docs < 2 or min_tokens < n:
        raise ValueError(
            f"need n >= 1, min_docs >= 2 and min_tokens >= n, got "
            f"n={n}, min_tokens={min_tokens}, min_docs={min_docs}"
        )
    # the token stream feeds BOTH the doc-freq agg and the hit semi-join
    # — but it is NOT persisted (round 13): the dup set is tiny and
    # broadcasts, so the semi-join consumes pos map-side, and re-running
    # the (now string-free, token-hash) explode for the second consumer
    # measured cheaper at sf0.1 AND sf1 than writing + twice-reading a
    # corpus-token-scale cache (guide §5 — the t14 lesson; identical
    # rows, both branches are deterministic).  Shared upstream
    # exchanges still dedup via ReusedExchange where they exist.
    pos = positional_shingles(df, id_col, text_col, n)
    if min_docs == 2:
        # "seen in >= 2 distinct docs" == "min(doc_id) != max(doc_id)":
        # min/max partial-aggregate map-side with O(1) state per hash,
        # so the doc-freq agg is ONE exchange of one row per distinct
        # hash per map partition — countDistinct expands to TWO
        # exchanges ((h, doc) dedup shuffle, then the per-h count) and
        # ships a row per distinct (h, doc) pair (round 13, guide
        # §2.3/§2.4; the d02 lesson applied where it does pay).  Exact,
        # not approximate: both sides ignore NULL ids identically.
        dup = (
            pos.groupBy("h")
            .agg(F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi"))
            .filter(F.col("__lo") != F.col("__hi"))
            .select("h")
        )
    else:
        dup = (
            pos.groupBy("h")
            .agg(F.countDistinct("doc_id").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("h")
        )
    hits = pos.join(dup, "h", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(n)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .drop("__grp")
        # report under the CALLER'S id column so cut_spans(df, spans,
        # id_col=...) composes for any id name, not just "doc_id"
        .withColumnRenamed("doc_id", id_col)
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Apply a span report (:func:`duplicated_spans` output) as a TEXT
    TRANSFORM: drop the tokens inside each listed span and rebuild the
    document — the "cut the duplicated substring" step of Lee et al.'s
    exact-substring dedup (the span finder only reports; the caller
    picks the keep policy by filtering ``spans`` first, e.g. keep each
    span's occurrence in its lowest doc by anti-joining those rows out).

    Plan: spans collapse to ONE array per doc (groupBy doc — spans per
    doc are few by construction), broadcast-or-shuffle join back to the
    docs, then the rebuild is pure codegen: tokenize, keep tokens whose
    1-based position falls in no span (``exists`` over the bounded span
    array), re-join with single spaces.  Docs with no spans keep all
    their tokens (the left join + coalesce defaults their span array
    to empty) — but EVERY row, spanned or not, is rebuilt through the
    tokenizer, so all output text is in canonical token-stream form.

    NOTE the tokenizer normalization: output text is the space-joined
    token stream (lowercased, whitespace collapsed) — the same
    canonical form every shingle op in this module scores.  There is
    deliberately no raw-text pass-through: mixing raw and canonical
    text in one output column would make iterated find → cut unstable
    (a doc's spans are positions in the CANONICAL stream).

    Cutting is NOT idempotent in general: removing a span splices its
    neighbors together, and the new adjacencies can themselves form
    fresh cross-doc duplicate runs ("a [c c] b" and "a [d d] b" both
    cut to "a b").  One pass removes every REPORTED span; a corpus
    with zero duplicated spans is reached by iterating
    find → cut to the fixed point, which terminates because each
    cutting pass strictly shrinks total token count (pinned by the
    iterated-fixed-point property test).
    """
    out_col = out_col or text_col
    per_doc = spans.groupBy(F.col(id_col).alias("__sid")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("long").alias("span_start"),
                F.col("span_end").cast("long").alias("span_end"),
            )
        ).alias("__spans")
    )
    joined = df.join(per_doc, F.col(id_col) == F.col("__sid"), "left").drop("__sid")
    toks = tokens_col(F.col(text_col))
    pos_toks = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        lambda t, p: F.struct(t.alias("t"), p.alias("p")),
    )
    kept = F.filter(
        pos_toks,
        lambda s: ~F.exists(
            F.coalesce(
                F.col("__spans"),
                F.array().cast("array<struct<span_start:long,span_end:long>>"),
            ),
            lambda sp: (s["p"] >= sp["span_start"]) & (s["p"] <= sp["span_end"]),
        ),
    )
    rebuilt = F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    return joined.withColumn(out_col, rebuilt).drop("__spans")
