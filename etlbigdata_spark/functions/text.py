"""Text analysis for LLM-data pipelines (SURVEY §2 B25).

The reference shipped ``nltk`` in requirements but never used it
(``/root/reference/requirements.txt:68``, SURVEY §2 "dead surface") —
this module is that foreshadowed capability, built entirely from
JVM-side ``pyspark.sql.functions`` (no Python in the hot path): at
100 TB a per-row Python tokenizer is the difference between hours and
weeks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.audit import walk

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: broadcast as literals into codegen.
_LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "den", "das", "von", "zu", "mit", "sich", "auf"],
    "zh": ["的", "了", "和", "是", "在", "我", "有", "他", "这", "不"],
}

TOKEN_PATTERN = r"[A-Za-z0-9_]+"

# Scoped persists: the one registry for the package's corpus-level
# intermediates (functions/dedup, corpus and multimodal persist through
# it too), released by release_cached() — called at the top of each
# declared workload query and by bench/tests, so a long-lived session
# does not accumulate cached blocks.  Unpersisting is always safe: a
# still-live DataFrame recomputes from lineage.
_LIVE_CACHE: list[DataFrame] = []


def _persist_scoped(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_CACHE.append(df)
    return df


def release_cached() -> None:
    """Unpersist every intermediate cached through :func:`_persist_scoped`."""
    while _LIVE_CACHE:
        _LIVE_CACHE.pop().unpersist()


def tokens_col(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokens as array<string>; '\\s+' regex split, empty-token
    trimmed (leading/trailing split artifacts).

    ``array_remove`` rather than a ``F.filter`` lambda: higher-order
    functions evaluate their lambda interpreted (one closure call per
    element, outside whole-stage codegen), and this column sits at the
    bottom of every tokenize→shingle→explode pipeline in the library —
    ``array_remove`` is an ordinary codegen expression with identical
    semantics here (split never yields nulls; '' can only appear at the
    edges and both forms drop every occurrence)."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.array_remove(F.split(c, r"\s+"), "")


# Expansion-stage sizing: how many COMPRESSED input bytes one task of a
# tokenize → shingle → explode stage should own.  ~128 KB zstd text is
# ~0.5-1 MB raw, fanning out to ~5-10 MB of shingle rows — enough work
# to amortize task overhead, small enough to keep every slot busy.  The
# constant only matters at the SMALL end: for any real corpus
# bytes/128 KB vastly exceeds cluster parallelism and the cap below
# wins, so this is not a local[32] tune (round 13, guide §2.1/§2.2 —
# the r12 scaling block showed the heavy dedup rows running ~2× faster
# at 8 cores than 32 at sf0.1: 32 tasks of a few KB each pay more in
# per-task fixed cost than they gain in parallelism).
_EXPANSION_BYTES_PER_TASK = 128 * 1024


def rebalance_for_expansion(df: DataFrame) -> DataFrame:
    """Round-robin a narrow text frame up to the width its BYTES need —
    capped at cluster parallelism — before a high-expansion projection
    (tokenize → shingle → explode).

    Input-split counts are sized to COMPRESSED bytes
    (``spark.sql.files.maxPartitionBytes``), but explode-style
    projections amplify the work per input byte ~100× (a 6 MB zstd text
    table fans out to tens of millions of shingle rows), so a small
    compressed scan can leave nearly every slot idle for the single most
    expensive stage of a dedup pipeline.  If the scan already yields
    enough partitions — true for any real 100 TB-scale input — this is
    a NO-OP returning ``df`` unchanged; the round-robin shuffle it
    otherwise inserts moves only the raw pre-explosion rows.  Measured
    at sf1 (round 6, BASELINE.md): d02 end-to-end 11.8 → 6.2 s with
    result-identical output.

    The width derives from the optimizer's size estimate
    (``optimizedPlan().stats().sizeInBytes`` — driver-side plan
    metadata, no job: file-scan relations report their file byte sum)
    at ``_EXPANSION_BYTES_PER_TASK`` per task, clamped to
    [1, defaultParallelism].  Round 13: at sf0.1 this stops a 0.6 MB
    corpus from being sliced into 32 few-KB tasks (measured 1.5-2×
    on d02/d04/d10/t23 at 32 cores); an unknown estimate (8 EiB
    sentinel) falls back to full parallelism, the scale-safe default.

    Only a frame whose physical plan holds no exchange is measured
    against that width, and measuring it runs no job.  A frame with an
    exchange passes through unchanged: AQE sizes its post-shuffle
    partitions from measured bytes, and reading its partition count
    (``.rdd``) would run the stages below the exchange as a job of
    their own, which the action then runs again.  Streaming frames pass
    through too (micro-batch sizing is the trigger's job, and ``.rdd``
    is undefined for them).
    """
    if df.isStreaming or any(n.name.endswith("Exchange") for n in walk(df)):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if 0 < size < (1 << 50):  # a real estimate, not the unknown sentinel
            target = max(1, min(target, -(-size // _EXPANSION_BYTES_PER_TASK)))
    except Exception:
        pass  # keep the full-parallelism default on any estimate failure
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def token_count_col(text: Column | str, pattern: str = TOKEN_PATTERN) -> Column:
    """BPE-ish token estimate: count of regex word-chunks (B25 token
    counting). ``regexp_extract_all`` keeps it inside codegen."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def add_text_stats(df: DataFrame, text_col: str = "text", prefix: str = "") -> DataFrame:
    """Per-document stats: chars, words, tokens, avg word length,
    punctuation ratio, stopword ratio (en) — the raw inputs to quality
    scoring. One projection, no shuffle."""
    t = F.col(text_col)
    toks = tokens_col(t)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    en_stop = F.array(*[F.lit(w) for w in _LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, en_stop))
    return (
        df.withColumn(f"{prefix}n_chars_calc", n_chars)
        .withColumn(f"{prefix}n_words", F.size(toks))
        .withColumn(f"{prefix}n_tokens", token_count_col(t))
        .withColumn(
            f"{prefix}avg_word_len",
            F.when(F.size(toks) > 0, (F.length(F.regexp_replace(t, r"\s+", "")) / F.size(toks))),
        )
        .withColumn(f"{prefix}punct_ratio", F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)))
        .withColumn(
            f"{prefix}stopword_kinds",
            n_stop,  # distinct stopword kinds present (array_intersect is set-wise)
        )
    )


def quality_score(df: DataFrame, text_col: str = "text", out_col: str = "quality") -> DataFrame:
    """Heuristic quality in [0,1]: length band + punctuation sanity +
    stopword presence. Mirrors the public C4/Gopher-style filters in
    spirit; every term is a built-in expression."""
    stats = add_text_stats(df, text_col, prefix="__q_")
    words = F.col("__q_n_words")
    len_score = F.when((words >= 5) & (words <= 100_000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_score = F.when(F.col("__q_punct_ratio") <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    stop_score = F.when(F.col("__q_stopword_kinds") >= 2, F.lit(1.0)).otherwise(F.lit(0.5))
    out = stats.withColumn(out_col, (len_score + punct_score + stop_score) / F.lit(3.0))
    return out.drop(*[c for c in out.columns if c.startswith("__q_")])


def language_scores(text: Column | str) -> Column:
    """Map lang → stopword-hit count (set-wise) for the heuristic language
    ID. All langs computed in one projection."""
    toks = tokens_col(text)
    pairs = []
    for lang, words in _LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        pairs += [F.lit(lang), F.size(F.array_intersect(toks, arr))]
    return F.create_map(*pairs)


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """B25 — n-gram/stopword language ID. Argmax over the per-language
    score map via sort of (score, lang) structs; deterministic tiebreak on
    lang asc; 'und' when nothing matched."""
    scores = language_scores(text_col)
    entries = F.map_entries(scores)  # array<struct<key,value>>
    # one asc sort of (neg score, lang) serves both the argmax and the
    # lang-asc tiebreak: the winner has the most-negative neg, and equal
    # scores fall through to lexicographic lang order
    best = F.sort_array(
        F.transform(entries, lambda e: F.struct((-e["value"]).alias("neg"), e["key"].alias("lang"))),
        asc=True,
    )[0]
    return df.withColumn(
        out_col, F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und"))
    )


def tfidf_top_terms(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    top_n: int = 3,
) -> DataFrame:
    """B25 — corpus TF-IDF, DataFrame-native (no ``pyspark.ml`` pipeline,
    no hashing trick, so every number is SQL-reproducible): per group
    (e.g. language), the ``top_n`` terms by ``tf · ln(N/df)`` where tf
    counts occurrences within the group, df counts documents containing
    the term, N is the corpus size.

    Plan shape = two word-counts and a term-keyed join: explode tokens →
    (group, term) counts and per-doc-distinct explode → term df, both
    map-side-combined; N rides in as a broadcast 1-row cross join (no
    driver action, the plan stays lazy); per-group top-n via window.
    Ranking uses the 6-dp-rounded score with a term-asc tiebreak so
    order is reproducible across engines.
    """
    toks = rebalance_for_expansion(df).select(
        F.col(doc_id_col).alias("__doc"),
        F.col(group_col).alias("grp"),
        tokens_col(text_col).alias("__toks"),
    )
    exploded = toks.select("grp", F.explode("__toks").alias("term"))
    tf = exploded.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.select("__doc", F.explode(F.array_distinct("__toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    total = toks.select(F.count(F.lit(1)).alias("__n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("__n_docs").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(F.col("grp").alias(group_col), "term", "tf", "df", "tfidf", "rank")
    )


def fingerprint_col(text: Column | str) -> Column:
    """B25 — document fingerprint, production face: ``xxhash64`` of the
    text — one codegen hash call per row, run-stable and seed-pinned
    (Spark's default seed 42). This is the path to use at scale; the
    per-character fold in :func:`rolling_fingerprint_col` costs O(chars)
    interpreted closure calls per document (the repo's HOF-vs-codegen
    measurements put such folds at the bottom of the library) and exists
    only as cross-engine oracle apparatus."""
    c = F.col(text) if isinstance(text, str) else text
    return F.xxhash64(c)


def rolling_fingerprint_col(text: Column | str, modulus: int = 1_000_000_007) -> Column:
    """Deterministic polynomial rolling hash: fold over characters with
    acc = (acc*31 + code) % m. Engine-portable by construction (no JVM
    hashCode dependence; DuckDB ``list_reduce`` computes the identical
    value — the t05 oracle twin), but an interpreted ``F.aggregate``
    HOF, so O(chars) closure calls per document. Oracle apparatus —
    production code should use :func:`fingerprint_col` (xxhash64)."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.coalesce(F.ascii(ch), F.lit(0))) % F.lit(modulus),
    )


def add_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fingerprint",
    method: str = "xxhash64",
) -> DataFrame:
    """``method``: 'xxhash64' (production, codegen) or 'rolling'
    (cross-engine-portable polynomial hash, interpreted HOF)."""
    if method == "xxhash64":
        return df.withColumn(out_col, fingerprint_col(text_col))
    if method == "rolling":
        return df.withColumn(out_col, rolling_fingerprint_col(text_col))
    raise ValueError(f"unknown fingerprint method {method!r}")


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """B25 — within-document repetition signals in the style of the
    public Gopher quality filters (Rae et al. 2021, §A1.1 "repetitious
    text"): ``dup_word_frac`` (fraction of word occurrences that repeat
    an earlier word: 1 − distinct/total) and ``top_bigram_share`` (share
    of all 2-gram occurrences taken by the most frequent one). High
    values flag boilerplate/spam documents for removal before training.

    Plan: one projection computes token counts (``array_distinct`` —
    codegen, no HOF lambdas); bigram OCCURRENCES (not the distinct
    shingle sets dedup uses) come from zipping the token array with its
    own shift (``slice`` + ``arrays_zip`` — regular functions, stays in
    codegen) and exploding; two id-keyed aggregations that AQE plans on
    one partitioning. Docs with <2 tokens get null ``top_bigram_share``
    (no bigrams exist), never a division error.
    """
    t = tokens_col(F.col(text_col))
    toked = df.select(F.col(id_col).alias("id"), t.alias("__t"))
    base = toked.select(
        "id",
        F.size("__t").alias("n_tokens"),
        F.size(F.array_distinct("__t")).alias("__n_distinct"),
    )
    pair_len = F.greatest(F.size("__t") - 1, F.lit(0))
    bi = toked.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, pair_len), F.slice("__t", 2, pair_len)
            )
        ).alias("__bg"),
    ).select("id", F.concat_ws(" ", F.col("__bg.0"), F.col("__bg.1")).alias("bigram"))
    counts = bi.groupBy("id", "bigram").agg(F.count(F.lit(1)).alias("__c"))
    top = counts.groupBy("id").agg(
        F.max("__c").alias("__top_cnt"), F.sum("__c").alias("__n_bigrams")
    )
    return (
        base.join(top, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            # try_divide: an empty doc has 0 tokens — null metric, not an
            # ANSI divide-by-zero error
            F.round(
                F.try_divide(
                    F.col("n_tokens") - F.col("__n_distinct"),
                    F.col("n_tokens").cast("double"),
                ),
                round_to,
            ).alias("dup_word_frac"),
            F.round(
                F.try_divide(F.col("__top_cnt"), F.col("__n_bigrams").cast("double")),
                round_to,
            ).alias("top_bigram_share"),
        )
    )


def normalize_text_col(text: Column | str) -> Column:
    """B25 — canonical text normalization for dedup preprocessing:
    lowercase → non-alphanumerics to spaces → whitespace collapsed →
    trimmed. Pure codegen regex expressions (Spark's regexp_replace is
    global by default; mirror with the 'g' flag in other engines).
    Normalizing BEFORE shingling folds case/punctuation variants of the
    same document into identical shingle sets — the cheap first lever
    for near-dup recall."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.lower(t)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def unigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """B25 — corpus-relative unigram surprisal quality score (round 6):
    per document, the mean ``-log2 p(token)`` where ``p`` is the
    Jelinek-smoothed unigram distribution of THE CORPUS ITSELF —
    the CCNet-style language-model quality proxy without an external
    model: gibberish and rare-token-soup documents score high (their
    tokens are improbable under the corpus), templated boilerplate
    scores low.  Filter tails on ``mean_surprisal`` as a curation gate
    next to :func:`quality` and :func:`repetition_stats`.

    Cross-engine determinism (the same discipline as
    :func:`tfidf_top_terms`): each distinct token's surprisal is
    computed once from integer counts, rounded to 6 dp, and carried as
    MICRO-UNIT LONGS, so the per-doc aggregation is an exact integer
    sum — associative, partial-aggregation-safe, bit-identical to a
    sequential SQL engine; the final mean rounds to 6 dp.

    Plan (round 13): token stream hashed to 8-byte xxhash64 keys (the
    d02 discipline — the count/join need equality only, and a 64-bit
    collision merging two counts is ~|vocab|²/2⁶⁴, unobservable below
    ~10⁹ distinct tokens; the string-exact oracle would catch one if it
    fired); the PERSISTED artifact is the VOCAB-SIZED ``freqs`` table,
    not the corpus-token stream — rounds 6-12 cached every (doc, tok)
    row (a corpus-scale memory/disk artifact, guide §5) so the explode
    ran once; re-running the map-side tokenize+explode for the scoring
    pass measured CHEAPER than writing + thrice-reading the
    corpus-width cache (alternating pairs at sf1: 2.13 → 1.88 s,
    result-identical; sf0.1 flat), and at 100 TB a corpus-scale cache
    is a non-starter while a second map pass is linear CPU on data
    already being read.  Corpus totals ride in as scalar subqueries
    over ``freqs`` (Catalyst merges the two into one aggregate), not a
    cross join: a cross join multiplies the scored vocab's size
    estimate, and the planner would then broadcast the token stream
    instead, whose estimate leaves out the explode's fan-out.  The
    vocab-keyed join shuffles 16-byte rows — at
    production vocab sizes (~10⁷ distinct) the scored vocab table is
    ~100 MB total, far below any per-partition bound.  Construction
    runs no Spark job: the scored vocab is broadcast when its size
    estimate, or else AQE's measurement of it, is under the broadcast
    threshold, so the full token stream never shuffles by token
    (round-6 measurement: the broadcast join 2.76 → 1.95 s), and a
    larger vocab keeps the shuffle join.
    Documents with zero tokens produce no output row (no distribution
    to score them under); left-join downstream if they must be kept.
    """
    toks = rebalance_for_expansion(df).select(
        F.col(id_col).alias("__id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    toks = toks.select("__id", F.xxhash64("tok").alias("tok"))
    freqs = _persist_scoped(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__cnt"))
    )
    total = freqs.agg(F.sum("__cnt")).scalar()
    vocab = freqs.agg(F.count(F.lit(1))).scalar()
    scored = freqs.select(
        "tok",
        F.round(
            -F.log(
                2.0,
                (F.col("__cnt") + F.lit(smoothing)) / (total + F.lit(smoothing) * vocab),
            )
            * 1e6
        ).cast("long").alias("__surp_u"),
    )
    return (
        toks.join(scored, "tok")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("__surp_u") / (F.lit(1e6) * F.count(F.lit(1))), 6
            ).alias("mean_surprisal"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "mean_surprisal")
    )


def ngram_novelty(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> "DataFrame":
    """Per-document n-gram NOVELTY — the share of a doc's distinct
    n-grams that appear in NO other document: the corpus-diversity
    signal complementary to the dedup family (dedup finds what repeats;
    novelty scores what doesn't).  Low novelty marks template/boiler
    docs that survived dedup thresholds; a curation pipeline samples or
    weights by it.

    Plan: distinct shingles per doc hashed to 64 bits (the d02
    discipline), ONE doc-frequency aggregate (map-side partial), join
    back, per-doc count ratio — linear in the shingle stream, no pair
    join.  Docs shorter than ``n`` tokens have no shingles and report
    NULL novelty (0/0 is unknowable, not 0 or 1).

    Returns ``(id, n_grams, n_unique, novelty)`` — novelty 6-dp rounded
    for cross-engine hashing.
    """
    from pyspark.sql import functions as F

    from .dedup import exploded_shingle_hashes

    # the shingle stream feeds the doc-freq agg AND the join-back —
    # scoped-persist so the highest-expansion stage runs once (the
    # unigram_surprisal / source_vocab_overlap convention); hashes are
    # built straight from per-token hashes (round 13, no per-position
    # string materialization — see exploded_shingle_hashes)
    sh = _persist_scoped(
        exploded_shingle_hashes(df, id_col, text_col, n, out_col="h")
    )
    # plain count, NOT countDistinct: exploded_shingles emits DISTINCT
    # shingles per doc (array_distinct before the explode), so (id, h)
    # rows are already unique and the two agree exactly — modulo the
    # same intra-doc 64-bit collision class the hashing note above
    # already accepts.  count partial-aggregates map-side with O(1)
    # state and ONE exchange; countDistinct planned as TWO exchanges
    # ((h, id) dedup shuffle, then the per-h count) — round 13, §2.4.
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        sh.join(dfreq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_unique"),
        )
    )
    # docs with zero shingles dropped out at the explode; restore with NULLs
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        all_ids.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.when(
                F.col("n_grams").isNotNull(),
                F.round(F.col("n_unique") / F.col("n_grams"), 6),
            ).alias("novelty"),
        )
    )


def source_vocab_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Source×source VOCABULARY overlap matrix — corpus analytics for
    mixture design: the Jaccard similarity of each source pair's
    distinct-token vocabularies.  High overlap = redundant domains
    (downweight one); low overlap = complementary coverage.  The
    source-granularity sibling of the doc-level dedup family.

    Plan: distinct (source, token-hash) — ONE aggregate that collapses
    the corpus to vocabulary size per source (bounded by vocabulary ×
    sources, not corpus) — then a self-equi-join on the hash counts
    shared tokens per pair.  The join is vocabulary-sized, the output
    sources²-sized; nothing corpus-sized survives the first aggregate.
    The FULL pair matrix is emitted: pairs whose vocabularies are
    disjoint appear with ``shared=0, jaccard=0.0`` (the pair frame is
    built from the tiny per-source size table — sources² rows — and
    the shared counts left-join onto it), so a matrix consumer can
    distinguish "no overlap" from "source absent".

    Returns ``(source_a, source_b, shared, size_a, size_b, jaccard)``
    with source_a < source_b, jaccard 6-dp rounded."""
    vocab = (
        df.select(
            F.col(group_col).alias("src"),
            F.explode(tokens_col(F.col(text_col))).alias("__tok"),
        )
        .select("src", F.xxhash64("__tok").alias("h"))
        .distinct()
    )
    vocab = _persist_scoped(vocab)
    sizes = vocab.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("src").alias("source_a"), "h")
    b = vocab.select(F.col("src").alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # sources²-sized pair frame (tiny): every a<b pair exists even when
    # the vocabularies share nothing
    pairs = (
        sizes.select(F.col("src").alias("source_a"), F.col("n").alias("size_a"))
        .crossJoin(
            sizes.select(F.col("src").alias("source_b"), F.col("n").alias("size_b"))
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return (
        pairs.join(shared, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            F.coalesce(F.col("shared"), F.lit(0)).alias("shared"),
            "size_a", "size_b",
            F.round(
                F.coalesce(F.col("shared"), F.lit(0))
                / (F.col("size_a") + F.col("size_b") - F.coalesce(F.col("shared"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def _corpus_stats(docs: DataFrame, text_col: str) -> DataFrame:
    """1-row ``(__n_docs, __sum_dl)`` corpus stats for BM25 (round 13).
    dl is counted with ``regexp_count(text, '\\S+')`` — exactly
    ``size(tokens_col(text))`` (maximal non-whitespace runs == split on
    ``\\s+`` with empties removed) but with no lowercase copy and no
    token-array materialization, so the stats pass over the corpus does
    a fraction of the explode pass's per-byte work (guide §1.2: this
    pass exists only to produce two numbers).  Map-side 1-row agg; the
    caller broadcasts it."""
    return docs.filter(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum(F.regexp_count(F.col(text_col), F.lit(r"\S+"))).alias("__sum_dl"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """B24/B25 — Okapi BM25 lexical retrieval (round 12): per query, the
    top-``k`` corpus documents by the classic BM25 score — the
    sparse-retrieval complement to the embedding family
    (:func:`similarity.cosine_topk` / IVF / PQ); production pipelines
    run BOTH and fuse (the standard hybrid-retrieval pattern), so an
    engine that only ships dense ANN leaves half the retriever behind.

    Formula (Lucene's always-positive idf variant):
    ``score(q, d) = Σ_{t ∈ distinct(q)} ln(1 + (N − df_t + 0.5)/(df_t
    + 0.5)) · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))``
    with ``N`` = corpus document count, ``dl`` = whitespace-token count
    (:func:`tokens_col` — identical tokenization to the tf-idf /
    surprisal faces), ``avgdl = Σdl / N`` (exact integer sum, one
    correctly-rounded division).  Repeated query terms count ONCE (the
    short-query convention); queries whose terms miss the corpus emit
    no rows.

    Cross-engine determinism (the t14 micro-unit discipline): ``ln`` is
    the only libm call — each term's idf is rounded ONCE to
    integer micro-units; every later per-(doc, term) contribution is
    again rounded to a micro-unit LONG, so the per-(query, doc) sum is
    exact integer aggregation (associative, partial-agg-safe), and the
    final score is micro-units / 1e6 rounded to 6 dp, ranked with the
    s01 round-before-rank discipline (score desc, doc_id asc).

    Plan (linear — the inverted-index shape, no corpus×query join):
    the DISTINCT query-term set broadcasts into the exploded token
    stream as a map-side semi filter, so only matching (doc, term)
    pairs ever shuffle — one hash shuffle for tf (dl rides along in
    the projection: no corpus-sized dl join), a term-keyed reduction
    of that already-small table for df, and corpus N/Σdl as a map-side
    1-row aggregate broadcast in.  At 100 TB the only corpus-sized
    stages are the scan+explode (map-side) and the matched-pair
    shuffle, which scales with hits, not corpus."""
    qt = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens_col(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    stats = _corpus_stats(docs, text_col)
    # no persist: since the round-12 window-df rewrite of the scoring
    # tail, tf feeds exactly ONE consumer chain (df rides in as a
    # window over term), so the corpus-sized explode runs once with no
    # cache materialization job
    tf = _bm25_postings(docs, id_col, text_col, terms=qt.select("term").distinct())
    return _bm25_rank_from_tf(tf, qt, stats, k, k1, b, id_col)


def _bm25_postings(
    docs: DataFrame, id_col: str, text_col: str, terms: DataFrame | None = None
) -> DataFrame:
    """``(__doc, term, __tf, __dl)`` postings of ``docs`` — the one
    tokenize/explode/count shared by :func:`bm25_topk`, the index build
    and the append.  ``terms`` (a distinct ``term`` frame) broadcasts
    into the exploded token stream as a map-side semi filter, so only
    matching (doc, term) pairs reach the tf shuffle; dl rides along in
    the projection (no corpus-sized dl join)."""
    d = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"), tokens_col(F.col(text_col)).alias("__toks")
    )
    pairs = d.select(
        "__doc", F.size("__toks").alias("__dl"), F.explode("__toks").alias("term")
    )
    if terms is not None:
        pairs = pairs.join(F.broadcast(terms), "term")
    return pairs.groupBy("__doc", "term").agg(
        F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl")
    )


def _bm25_bucket(n_buckets: int) -> Column:
    """A term's bucket — the index's partition rule, shared by the
    writers and the probe's pruning."""
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets))


def _write_bucketed(df: DataFrame, path: str, n_buckets: int, mode: str) -> None:
    """Write a term-keyed frame partitioned by :func:`_bm25_bucket`
    with ONE file per bucket (repartition by the partition column
    before the write: the IVF round-10 lesson — without it every input
    partition slivers every bucket).  The one writer of the postings
    and the dfreq sidecar, for build (``"overwrite"``) and append."""
    (
        df.withColumn("bucket", _bm25_bucket(n_buckets))
        .repartition(n_buckets, "bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def _write_bm25_stats(
    docs: DataFrame, text_col: str, path: str, n_buckets: int, n_docs: int = 0, sum_dl: int = 0
) -> dict:
    """Add ``docs``' corpus stats to the totals ``n_docs``/``sum_dl``,
    write them as the 1-row ``stats`` sidecar and return them as the
    build/append result dict."""
    batch = _corpus_stats(docs, text_col).collect()[0]
    n_docs += int(batch["__n_docs"])
    sum_dl += int(batch["__sum_dl"] or 0)
    docs.sparkSession.createDataFrame(
        [(n_docs, sum_dl, n_buckets)], "__n_docs long, __sum_dl long, __n_buckets int"
    ).write.mode("overwrite").parquet(f"{path}/stats")
    return {"n_docs": n_docs, "sum_dl": sum_dl, "n_buckets": n_buckets}


def _bm25_rank_from_tf(
    tf: DataFrame,
    qt: DataFrame,
    stats: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    dfreq: DataFrame | None = None,
) -> DataFrame:
    """Shared BM25 scoring tail (round 12): from a matched tf table
    ``(__doc, term, __tf, __dl)``, the distinct per-query term frame
    ``qt`` and a 1-row ``(__n_docs, __sum_dl)`` stats frame, produce
    the ranked top-``k``.  ONE implementation serves both the direct
    :func:`bm25_topk` corpus scan and the :func:`bm25_probe_index`
    pruned-postings path, so the two are arithmetic-identical by
    construction (micro-unit idf + contributions, exact integer sums,
    s01 round-before-rank)."""
    # df/idf ride on the QUERY-TERM frame, not on tf (round 13, guide
    # §2.5/§2.3 — replaces the round-12 window-over-term, whose single
    # per-term window partition was an unbounded hotspot for a
    # stopword-class query term at corpus scale: ADVICE r12).  dfreq is
    # a plain per-term count of the tf table — map-side partial agg,
    # O(1) state, and AT MOST |distinct query terms| output rows
    # (every tf producer is query-pruned by construction), so folding
    # dfreq + corpus stats + idf into qt yields a provably tiny frame
    # that broadcasts into tf as the tail's ONE join.  tf is never
    # exchanged by term at all now — no window partition to overflow;
    # the big side's only shuffle stays the well-spread (doc, term)
    # groupBy of the producers.  In the direct-scan path tf appears
    # twice in the plan (dfreq build + probe), but its exchange is
    # REUSED (ReusedExchange / AQE stage reuse — plan-asserted in
    # tests), so the corpus-sized work still runs once; the index
    # probe path passes ``dfreq`` in from the persisted sidecar and
    # computes no df at all.  The arithmetic is unchanged: idf_u is
    # still rounded ONCE to micro-unit longs before any contribution
    # math, so s10/s11/s12/st16 hashes are identical.
    if dfreq is None:
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    qterms = (
        qt.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf_u",
            F.round(
                F.log(
                    1.0
                    + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
                )
                * 1e6
            ).cast("long"),
        )
        .withColumn(
            "__avgdl", F.col("__sum_dl").cast("double") / F.col("__n_docs")
        )
        .select("query_id", "term", "__idf_u", "__avgdl")
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .select(
            "query_id",
            "__doc",
            F.round(
                F.col("__idf_u")
                * (F.col("__tf") * (1.0 + k1))
                / (F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl")))
            )
            .cast("long")
            .alias("__c_u"),
        )
    )
    scores = contrib.groupBy("query_id", "__doc").agg(
        F.round(F.sum("__c_u") / 1e6, 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("__doc").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("__doc").alias(id_col), "score", "rank")
    )


def bm25_write_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """B24/B25 — build and PERSIST the BM25 inverted index (round 12):
    the lexical twin of :func:`similarity.ivf_write_index`.  Writes
    ``<path>/postings`` — the full ``(term, doc, tf, dl)`` posting list
    — partitioned by ``bucket = pmod(xxhash64(term), n_buckets)`` with
    ONE file per bucket (repartition by the partition column before the
    write: the IVF round-10 lesson — without it every input partition
    slivers every bucket), plus a ``<path>/dfreq`` term-dictionary
    sidecar (``(term, df)`` per bucket, additive append segments) and a
    ``<path>/stats`` sidecar carrying ``(n_docs, sum_dl, n_buckets)``.

    Build once, probe every query batch with :func:`bm25_probe_index`:
    the probe's bucket set becomes a static PARTITION filter, so a
    probe reads ``|distinct query-term buckets| / n_buckets`` of the
    on-disk files instead of re-exploding the corpus — at 100 TB the
    corpus is tokenized exactly once, here.  ``k1``/``b`` are
    scoring-time parameters (not baked in); df/idf derive exactly from
    the probed buckets because a term's ENTIRE posting list lives in
    its one bucket."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    _write_bucketed(
        _bm25_postings(docs, id_col, text_col), f"{path}/postings", n_buckets, "overwrite"
    )
    # df sidecar (round 13): a real inverted index stores df in the
    # term dictionary, so probes never aggregate posting lists to
    # recover it — the probe-time df computation was the skew hazard
    # ADVICE r12 flagged (a stopword-class query term funnels its
    # corpus-scale posting list through one df task).  Derived by
    # reading BACK the just-written postings (posting-sized columnar
    # scan of the term column only — no corpus re-tokenize), bucketed
    # like the postings so probes prune the same way.  Rows are
    # ADDITIVE (term, df) segments: append writes batch deltas and
    # probes SUM, keeping appends O(new batch).
    dfr = docs.sparkSession.read.parquet(f"{path}/postings").groupBy("term").agg(
        F.count(F.lit(1)).alias("__df")
    )
    _write_bucketed(dfr, f"{path}/dfreq", n_buckets, "overwrite")
    return _write_bm25_stats(docs, text_col, path, n_buckets)


def _read_bm25_stats(spark, path: str) -> tuple[int, int, int]:
    """The one layout reader of a persisted BM25 index, shared by probe
    and append: its ``(n_docs, sum_dl, n_buckets)`` stats.  An index
    without the ``dfreq`` term-dictionary sidecar (the layout from
    before the sidecar existed) raises: a probe would find no df, and
    an append would land a batch-only df segment that every later
    probe undercounts."""
    dfreq = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/dfreq")
    fs = dfreq.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(dfreq):
        raise ValueError(
            f"bm25 index at {path} has no dfreq sidecar: rebuild the index "
            "with bm25_write_index"
        )
    rows = spark.read.parquet(f"{path}/stats").collect()
    if len(rows) != 1:
        raise ValueError(f"bm25 stats sidecar is torn: {len(rows)} rows")
    r = rows[0]
    return int(r["__n_docs"]), int(r["__sum_dl"]), int(r["__n_buckets"])


def bm25_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """B24/B25 — probe a persisted :func:`bm25_write_index` index:
    result-identical to :func:`bm25_topk` over the same corpus (shared
    scoring tail, pinned by test) but the corpus is never re-read — the
    distinct query-term bucket set (one bounded job over the query
    frame) becomes a static partition filter on the postings read, so
    the scan touches only the query terms' buckets
    (``PartitionFilters`` plan-asserted in tests, the
    ``ivf_probe_index`` discipline)."""
    n_docs, sum_dl, n_buckets = _read_bm25_stats(spark, path)
    qt = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens_col(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    # bounded collect (the _query_probes discipline): the probed bucket
    # set, ≤ n_buckets values, derived with the SAME xxhash64 the write
    # side used
    trows = (
        qt.select("term")
        .distinct()
        .withColumn("bucket", _bm25_bucket(n_buckets))
        .collect()
    )
    buckets = sorted({int(r["bucket"]) for r in trows})
    terms = [r["term"] for r in trows]
    if not buckets:
        # all-whitespace/empty query texts: nothing to probe — emit an
        # empty frame whose query_id/doc_id types mirror the normal path
        from pyspark.sql import types as T

        qid_t = qt.schema["query_id"].dataType
        did_t = spark.read.parquet(f"{path}/postings").schema["__doc"].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", qid_t),
                    T.StructField(id_col, did_t),
                    T.StructField("score", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    tf = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))  # static partition pruning
        .filter(F.col("term").isin(terms))      # row-group pushdown inside
        .select("__doc", "term", "__tf", "__dl")
    )
    # df from the index's term-dictionary sidecar (round 13): same
    # bucket pruning + term pushdown, SUMMED over append segments —
    # the probe never aggregates posting lists to recover df, so a
    # corpus-frequent query term costs a dictionary lookup, not a
    # corpus-scale single-partition aggregation (ADVICE r12).
    dfreq = (
        spark.read.parquet(f"{path}/dfreq")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("__df").alias("__df"))
    )
    stats = spark.createDataFrame(
        [(n_docs, sum_dl)], "__n_docs long, __sum_dl long"
    )
    # tf feeds one chain since the round-12 tail rewrite — no persist
    return _bm25_rank_from_tf(tf, qt, stats, k, k1, b, id_col, dfreq=dfreq)


def bm25_append_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Incrementally grow a persisted :func:`bm25_write_index` index —
    the lexical twin of ``similarity.ivf_append_index``: the new batch
    is tokenized and its postings APPEND into the existing bucket
    partitions (same ``pmod(xxhash64(term), n_buckets)`` rule read from
    the stats sidecar, so the layout is frozen by the build contract),
    and the stats sidecar is rewritten with the exact summed totals.
    Cost is O(new batch) — the existing postings are never read or
    rewritten.  Because df/tf are COUNTS and avgdl derives from exact
    integer totals, a probe after the append is result-identical to
    rebuilding the index over the union (pinned by test).

    Append contract (the ivf_append discipline): batch ids must be NEW
    — re-appending an existing document double-counts its postings.
    The postings append commits first, then the dfreq delta, then the
    stats rewrite; a crash between them leaves the sidecars short by
    the committed batch's postings (recovery = rebuild the sidecars
    from the postings, which stay authoritative) — stated, not
    silent."""
    n_docs, sum_dl, n_buckets = _read_bm25_stats(docs.sparkSession, path)
    postings = _bm25_postings(docs, id_col, text_col)
    _write_bucketed(postings, f"{path}/postings", n_buckets, "append")
    # df sidecar delta (round 13): the batch's per-term doc counts
    # APPEND as an additive segment (probes sum segments), so the
    # existing dictionary is never read or rewritten — O(new batch),
    # same contract as the postings append.  Exact because batch ids
    # are new (the append contract above): df adds linearly.  Cost:
    # one batch-sized re-explode (the postings lineage re-runs for
    # this tiny agg) — batch-scale, not corpus-scale.
    dfr = postings.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    _write_bucketed(dfr, f"{path}/dfreq", n_buckets, "append")
    return _write_bm25_stats(docs, text_col, path, n_buckets, n_docs, sum_dl)
