"""Corpus curation for LLM-training-data pipelines (SURVEY §2 B23/B25
neighborhood): deterministic splits, quota sampling, benchmark
contamination checks, PII redaction.

The reference has no counterpart (its cleaning surface is
fillna/dedup/replace, ``/root/reference/simple_etl.py:192-228``); these
are the operations a 100 TB training-data pipeline runs between "raw
corpus" and "training mix". Everything here is built-in-expression
PySpark — no Python in the hot path — and every operator is
deterministic (content-addressed hashing, no RNG), so each has an exact
DuckDB oracle twin in the workload.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import exploded_shingle_hashes, exploded_shingles

# -- deterministic split ----------------------------------------------

_HEX = "0123456789abcdef"


def _id_md5(id_col: str | Column) -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(c.cast("string"))


def _thresh_hex(rate: float) -> str:
    """Keep-rate → 8-hex-digit threshold on the first 32 bits of an md5
    (keep iff h8 < threshold; string compare on fixed-width lowercase
    hex ≡ numeric).  rate ≥ 1 → 'g', lexicographically above every hex
    string (+∞); rate = 0 → '00000000', below none.  The ONE copy of
    the driver-computed-threshold rule shared by :func:`mixture_sample`
    and :func:`epoch_sample`."""
    return "g" if rate >= 1.0 else format(int(rate * 16**8), "08x")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "split",
    buckets: dict[str, int] | None = None,
) -> DataFrame:
    """Content-addressed train/val/test split: the first hex digit of
    ``md5(id)`` selects the split, so assignment is (a) reproducible with
    no RNG or ordering dependence, (b) stable under repartition/reshard
    (a doc's split follows its id, not its file position), and (c) a pure
    map-side expression — at 100 TB the split label is a free projected
    column, no shuffle, no sampling pass.

    ``buckets`` maps split name → how many of the 16 hex buckets it owns
    (insertion order assigns digit ranges); default 13/2/1 ≈
    81%/12.5%/6.25%. md5 rather than a seeded RNG is the point: the same
    doc lands in the same split across runs, engines, and cluster sizes —
    the property leakage audits depend on.
    """
    if buckets is None:
        buckets = {"train": 13, "val": 2, "test": 1}
    if sum(buckets.values()) != 16:
        raise ValueError(f"bucket counts must sum to 16, got {buckets}")
    digit = F.substring(_id_md5(id_col), 1, 1)
    expr = None
    pos = 0
    for name, width in buckets.items():
        digits = list(_HEX[pos : pos + width])
        pos += width
        expr = F.when(digit.isin(digits), F.lit(name)) if expr is None else expr.when(
            digit.isin(digits), F.lit(name)
        )
    return df.withColumn(out_col, expr)


# -- quota (stratified, deterministic) sampling -----------------------


def quota_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    prefilter_safety: int = 10,
) -> DataFrame:
    """Per-group deterministic quota sample: the ``k`` rows with the
    smallest ``md5(id)`` per group — the reproducible version of
    "sample k docs per language" used to build training mixes.

    Scale shape: a naive ``row_number() OVER (PARTITION BY group ORDER
    BY md5)`` sorts the entire corpus inside a handful of group
    partitions (languages are few → maximal skew). Instead: (1) one
    cheap count per group, broadcast back; (2) prefilter to rows whose
    16-bit hash prefix is below ``safety·k/n`` of the hash space — a
    map-side cut that keeps ≈ safety·k rows per group; (3) run the
    window top-k on the survivors only. The prefilter orders by the same
    hash that defines the sample, so it can only drop rows that cannot
    be in the top-k, provided ≥ k rows survive: groups with
    n ≤ safety·k are never filtered at all, and for larger groups the
    survivor count is Binomial(n, safety·k/n) — short by chance with
    probability < e^{-k·safety·(1−1/safety)²/2} (Chernoff), ~1e-18 at
    k=20, safety=10. ``tests/test_operators.py`` proves
    prefiltered ≡ unfiltered on real data where the prefilter is active.
    """
    h = _id_md5(id_col).alias("__h")
    base = df.select(F.col(group_col).alias("__g"), F.col(id_col).alias("__id"), h)
    counts = base.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    # 16-bit prefix of the md5 as an integer in [0, 65536)
    pref = F.conv(F.substring(F.col("__h"), 1, 4), 16, 10).cast("int")
    thresh = F.least(
        F.lit(65536),
        F.ceil(F.lit(65536.0) * F.lit(float(prefilter_safety * k)) / F.col("__n")).cast("int"),
    )
    survivors = base.join(F.broadcast(counts), "__g").filter(pref <= thresh)
    w = Window.partitionBy("__g").orderBy(F.col("__h").asc(), F.col("__id").asc())
    picked = (
        survivors.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("__g").alias(group_col), F.col("__id").alias(id_col))
    )
    return picked


# -- benchmark contamination ------------------------------------------


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap_ratio: float = 0.05,
) -> DataFrame:
    """N-gram benchmark-contamination check (the GPT-3/PaLM-style
    decontamination audit): for each corpus doc, the fraction of its
    distinct word ``n``-grams that also occur anywhere in the benchmark
    set; rows with ratio ≥ ``min_overlap_ratio`` are flagged.

    Plan: benchmark shingles → distinct → ``xxhash64`` to 8 bytes →
    **broadcast** (benchmark suites are tiny next to a 100 TB corpus);
    corpus shingles stream through one map-side broadcast LEFT join with
    a hit marker, then a single ``groupBy(doc)`` computes set size and
    overlap in the same aggregation — the corpus is tokenized once and
    its shingles are never shuffled, only (id, two counts) partials.
    Collision note: as in ``ngram_jaccard_pairs``, hashing shingles to
    64 bits risks ~|shingles|²/2⁶⁴ miscounts — unobservable below ~10⁹
    distinct benchmark shingles (and a benchmark that large would need
    the join inverted anyway).
    """
    # both sides hash identically (equality is all the join needs);
    # hashes come straight from per-token hashes with no per-position
    # string build — round 13, see dedup.exploded_shingle_hashes
    bsh = (
        exploded_shingle_hashes(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    csh = exploded_shingle_hashes(corpus, id_col, text_col, n)
    agg = (
        csh.join(F.broadcast(bsh), "shingle", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_overlap"),
        )
    )
    return (
        agg.withColumn("overlap_ratio", F.col("n_overlap") / F.col("n_shingles"))
        .filter(F.col("overlap_ratio") >= min_overlap_ratio)
        .select(F.col("id").alias(id_col), "n_overlap", "n_shingles", "overlap_ratio")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap_ratio: float = 0.05,
) -> DataFrame:
    """The actionable twin of :func:`contamination_report` (the
    cut_spans pattern: the report finds, this acts): DROP every corpus
    doc whose benchmark n-gram overlap reaches the threshold — the
    decontamination step a training run actually applies.  One anti-
    join on the flagged ids; full rows never shuffle into the check."""
    flagged = contamination_report(
        corpus, benchmark, id_col, text_col, n, min_overlap_ratio
    ).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


# -- PII redaction ----------------------------------------------------

# Patterns restricted to syntax that means the same thing in Java regex
# (Spark) and RE2 (DuckDB oracle): no backrefs, no lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+\d{1,2}-\d{3}-\d{4}"

DEFAULT_PII_PATTERNS: dict[str, str] = {
    "email": EMAIL_PATTERN,
    "phone": PHONE_PATTERN,
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Scrub PII spans, the standard pre-training hygiene pass: each
    pattern's matches are replaced with ``[KIND]`` and counted
    (``n_<kind>`` columns, counted on the original text so later
    patterns can't eat earlier matches). One projection, all
    ``regexp_replace``/``regexp_extract_all`` codegen expressions —
    per-row Python here would be the classic 100 TB mistake.
    """
    if patterns is None:
        patterns = DEFAULT_PII_PATTERNS
    t = F.col(text_col)
    out = df
    for kind, pat in patterns.items():
        out = out.withColumn(f"n_{kind}", F.size(F.regexp_extract_all(t, F.lit(pat), 0)))
    red = t
    for kind, pat in patterns.items():
        red = F.regexp_replace(red, pat, f"[{kind.upper()}]")
    return out.withColumn(out_col, red)


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic source-weighted corpus mixing: keep each row with
    its source's sampling rate, decided by a content hash rather than an
    RNG — the operation that turns "raw crawl + books + code" into a
    training mixture with chosen proportions.

    A row survives iff the first 8 hex digits of
    ``md5(id || ':' || salt)`` fall below ``rate`` of the 32-bit hash
    space (string compare on fixed-width lowercase hex ≡ numeric
    compare). Properties the training-mix use case needs:

    - **Reproducible & reshard-stable**: a doc's fate follows its id,
      not file position, RNG seed, or partition count — reruns and
      engine swaps keep the identical subset (hence the exact DuckDB
      oracle twin, t15).
    - **Map-side only**: the filter is one codegen projection; at 100 TB
      no shuffle, no per-source pass, no count-first planning step.
    - **Monotone in rate**: raising a source's rate strictly grows its
      kept set (the kept set at 0.3 ⊂ kept set at 0.5), so mixtures can
      be re-weighted incrementally without churning previously selected
      docs — the property incremental training-data refreshes rely on.
    - **Independent of hash_split**: the hash is salted, because
      :func:`hash_split` consumes the UNSALTED md5's first digit —
      sampling on the same bytes would silently empty val/test at rates
      below 13/16. The salt makes the two decisions orthogonal.

    ``rates`` maps group value → keep-rate in [0, 1]; unlisted groups
    use ``default_rate``. Adds nothing, drops rows — schema unchanged.
    """
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {g!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")

    h8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8
    )
    expr = None
    for g, r in rates.items():
        # eqNullSafe: a None key (rows with missing group metadata) must
        # select its computed rate — plain == is never true against NULL
        # and would silently fall through to default_rate
        cond = F.col(group_col).eqNullSafe(F.lit(g))
        expr = F.when(cond, F.lit(_thresh_hex(r))) if expr is None else expr.when(
            cond, F.lit(_thresh_hex(r))
        )
    thresh = F.lit(_thresh_hex(default_rate)) if expr is None else expr.otherwise(
        F.lit(_thresh_hex(default_rate))
    )
    return df.filter(h8 < thresh)


def epoch_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "epoch",
    copy_col: str = "epoch_copy",
) -> DataFrame:
    """Deterministic epoch-weighted corpus mixing — the UP-sampling half
    :func:`mixture_sample` deliberately refuses (its rates live in
    [0, 1]): a source with rate 3.4 contributes every doc 3 times plus
    a 0.4-rate salted-hash fourth copy, the "books for 4 epochs, crawl
    for 0.8" recipe real training mixes run.

    Each row explodes into ``ceil(rate)`` candidate copies (a bounded
    arithmetic ``sequence`` — map-side, no shuffle, no RNG) and the
    LAST copy survives iff ``md5(id:copy:salt)`` falls below the
    fractional part — so copy decisions are content-addressed:
    reproducible, reshard-stable, monotone in rate (raising 3.4 → 3.7
    only ADDS fourth copies, never churns the first three), and
    independent per copy index.  ``copy_col`` (0-based) distinguishes
    repeats so downstream shuffles/packing treat them as distinct
    examples; rate ≤ 1 degrades to a :func:`mixture_sample`-style
    fractional keep with ``copy_col = 0`` (same mechanism, its own
    ``id:copy:salt`` hash domain).

    At 100 TB this is a pure projection whose output size is the mix
    designer's choice — the operator adds no shuffle and the explode
    expansion is bounded by ``ceil(max rate)``.
    """
    import math

    for g, r in rates.items():
        if r < 0:
            raise ValueError(f"rate for {g!r} must be >= 0, got {r}")
    if default_rate < 0:
        raise ValueError(f"default_rate must be >= 0, got {default_rate}")

    # per-group (full copies, fractional-copy hex threshold) — the
    # shared :func:`_thresh_hex` discipline: thresholds are DRIVER-
    # computed literal hex strings, so the plan compares fixed-width
    # lowercase hex (≡ numeric) and an external engine reproduces the
    # kept multiset from the same integers (frac is always < 1 here —
    # Sterbenz-exact subtraction — so the 'g' branch never fires)
    def _split(r: float) -> tuple[int, str]:
        n_full = int(math.floor(r))
        return n_full, _thresh_hex(r - n_full)

    full_expr, th_expr = None, None
    for g, r in rates.items():
        cond = F.col(group_col).eqNullSafe(F.lit(g))
        nf, th = _split(float(r))
        full_expr = (
            F.when(cond, F.lit(nf)) if full_expr is None else full_expr.when(cond, F.lit(nf))
        )
        th_expr = (
            F.when(cond, F.lit(th)) if th_expr is None else th_expr.when(cond, F.lit(th))
        )
    dnf, dth = _split(float(default_rate))
    n_full = F.lit(dnf) if full_expr is None else full_expr.otherwise(F.lit(dnf))
    thresh = F.lit(dth) if th_expr is None else th_expr.otherwise(F.lit(dth))
    has_frac = thresh != F.lit("00000000")
    n_copies = n_full + F.when(has_frac, F.lit(1)).otherwise(F.lit(0))
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    out = (
        df.withColumn("__nf", n_full)
        .withColumn("__th", thresh)
        .withColumn(copy_col, F.explode(copies))
    )
    h8 = F.substring(
        F.md5(
            F.concat(
                F.col(id_col).cast("string"),
                F.lit(":"),
                F.col(copy_col).cast("string"),
                F.lit(":" + salt),
            )
        ),
        1,
        8,
    )
    keep = (F.col(copy_col) < F.col("__nf")) | (h8 < F.col("__th"))
    return out.filter(keep).drop("__nf", "__th")


def pack_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 4096,
    n_groups: int = 8,
    out_col: str = "shard",
) -> DataFrame:
    """Sequence packing for training-data sharding: assign each document
    to a token-budget shard, deterministically.

    Documents are first routed to one of ``n_groups`` content-addressed
    groups (md5 of the id — reshard-stable, no RNG, map-side; the same
    mechanism as :func:`hash_split`), then packed SEQUENTIALLY within
    each group in ``id_col`` order, then ``token_col`` order among rows
    that share an id: shard index = floor(tokens-before-me / budget).
    Rows that tie on both are interchangeable here, so every
    derivation from the same rows assigns the same multiset of
    (id, tokens, group, shard). A shard may exceed the budget by at
    most one document
    (standard greedy sequential packing); each group's packing is ONE
    window shuffle bounded by the group, so parallelism = n_groups and
    no global sort exists. Size ``n_groups`` to the cluster: at 100 TB
    the per-group cumulative sum is the only ordered scan, and groups
    pack independently.

    Adds (group, shard) columns; shard ids are per-group.
    """
    import hashlib  # noqa: F401  (documentation pointer; md5 runs JVM-side)

    group = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("long") % n_groups
    ).cast("int")
    w = (
        Window.partitionBy("__grp")
        .orderBy(F.col(id_col).asc(), F.col(token_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        df.withColumn("__grp", group)
        .withColumn("__before", F.coalesce(F.sum(token_col).over(w), F.lit(0)))
        .withColumn(out_col, F.floor(F.col("__before") / budget).cast("int"))
        .withColumnRenamed("__grp", "group")
        .drop("__before")
    )
    return out


def shuffle_shards(
    df: DataFrame,
    id_col: str = "pack_id",
    n_shards: int = 64,
    seed: int = 0,
    shard_col: str = "out_shard",
    key_col: str = "order_key",
    materialize: bool = True,
) -> DataFrame:
    """Deterministic global training-order shuffle (round 11) — the step
    between packing (:func:`pack_shards` / :func:`packed_sequences`) and
    the sink: every training run wants its sequences in a shuffled order
    that is (a) reproducible, (b) independent of how the corpus happened
    to be partitioned, and (c) cheap to re-derive for a resume — an RNG
    ``ORDER BY rand()`` fails all three.

    The order key is a SEEDED CONTENT HASH, ``md5(id || ':' || seed)``
    (the :func:`hash_split` discipline: RNG-free, reshard-stable,
    map-side, cross-engine-exact — DuckDB computes the identical hex).
    The global training order is the lexicographic ``(out_shard,
    order_key, id)`` order, materialized scalably as two levels:

    * ``out_shard`` — first 8 hex digits of the key mod ``n_shards``:
      which output shard a sequence lands in (uniform by construction);
    * within a shard, rows sort by ``(order_key, id)`` — the id
      tie-break makes the order total even under (astronomically
      unlikely) hex-prefix ties.

    ``materialize=True`` applies the ONE total-order repartition this
    op is allowed — ``repartition(n_shards, out_shard)`` +
    ``sortWithinPartitions(out_shard, order_key, id)`` — so every
    output partition holds its shard(s) contiguously in replay order
    (hash partitioning may co-locate two shard values in one task;
    the leading sort key keeps them contiguous rather than
    interleaved, and a ``partitionBy(out_shard)`` parquet sink still
    writes one directory per shard).  Reading shards 0, 1, … streams
    the exact global order back.  No global window, no
    single-partition sort: a new seed reshuffles 100 TB with one
    hash-partitioned exchange.  ``materialize=False`` labels only
    (pure map-side) for callers that route the layout themselves.  A
    different ``seed`` yields an independent permutation (fresh epoch
    order); the same seed replays bit-identically."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")
    out = df.withColumn(key_col, key).withColumn(shard_col, shard)
    if materialize:
        out = out.repartition(n_shards, F.col(shard_col)).sortWithinPartitions(
            F.col(shard_col).asc(), F.col(key_col).asc(), F.col(id_col).asc()
        )
    return out


# -- packed-sequence final-pass dedup ---------------------------------

# pack_id = group * stride + shard: one sortable 64-bit key per pack so
# the span machinery (keyed on a single id column) composes unchanged.
# Stride 2^40: a group would need > budget * 2^40 tokens (~4.5e15 at the
# default budget) before shard ids collide across groups — beyond the
# 100 TB design point by orders of magnitude (review r10: the old 1e6
# stride collided at ~4e9 tokens/group).  Decode uses shiftright/%, not
# float division, so ids stay exact over the full long range.
_PACK_STRIDE = 1 << 40


def packed_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 4096,
    n_groups: int = 8,
    tokens_out: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Materialize :func:`pack_shards` output as TRAINING SEQUENCES: one
    row per (group, shard) holding the pack's documents concatenated in
    ``id_col`` order (token count breaks ties on a duplicate id) as a
    canonical token stream, plus the per-document offset map inside
    each pack.

    Returns ``(seqs, docs)``:

    * ``seqs`` — ``(pack_id, group, shard, packed_text, n_docs,
      n_tokens)``; ``packed_text`` is the space-joined token stream
      (the same canonical form :func:`dedup.cut_spans` emits).
    * ``docs`` — ``(pack_id, <id_col>, doc_start, doc_end)``: 1-based
      inclusive token offsets of each document inside its pack
      (zero-token documents get an empty range and never overlap).

    With ``tokens_out=True`` ``seqs`` additionally carries
    ``packed_toks`` — the concatenated token ARRAY the join produced
    ``packed_text`` from — so a downstream shingle pass can skip
    re-splitting the packed text (round 12: tokens are canonical —
    lowercase, whitespace-free, no empties — so
    ``tokens_col(packed_text) == packed_toks`` exactly; the span
    finder consumes the array and saves one full regex pass over the
    packed corpus).

    Token accounting uses the library tokenizer
    (:func:`text.tokens_col`, lowercased whitespace tokens) so offsets
    align EXACTLY with every shingle operator downstream.  Scale shape
    (round 13): md5 grouping and token sizing are map-side; the two
    branches recompute their pack assignment INDEPENDENTLY instead of
    sharing a corpus-token-scale cache (guide §5 — the t14 lesson:
    writing + re-reading every document's token array cost more at
    every measured scale than a second map pass, and at 100 TB a
    corpus-wide cache is a non-starter).  The offsets branch is fully
    NARROW — ``regexp_count(text, '\\S+')`` is exactly
    ``size(tokens_col(text))`` (maximal non-whitespace runs == split
    on ``\\s+`` with empties removed), so no token arrays exist there
    at all; the sequence branch alone carries arrays through its one
    (group, shard) exchange.  Both branches are deterministic from
    (id, text), so their (group, shard, __ntok) agree exactly.  The
    only ordered scan is the per-(group, shard) sort — no global sort,
    parallelism = number of packs.
    """
    from .text import tokens_col

    toks = tokens_col(F.col(text_col))
    sized = df.select(
        F.col(id_col),
        toks.alias("__ctoks"),
        F.size(toks).cast("long").alias("__ntok"),
    )
    packed = pack_shards(
        sized, id_col=id_col, token_col="__ntok", budget=budget, n_groups=n_groups
    )
    sized_narrow = df.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), F.lit(r"\S+")).cast("long").alias("__ntok"),
    )
    packed_narrow = pack_shards(
        sized_narrow, id_col=id_col, token_col="__ntok", budget=budget, n_groups=n_groups
    )
    pid = (F.col("group").cast("long") * _PACK_STRIDE + F.col("shard")).alias("pack_id")
    w = (
        Window.partitionBy("group", "shard")
        .orderBy(F.col(id_col).asc(), F.col("__ntok").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    docs = (
        packed_narrow.withColumn(
            "__start", F.coalesce(F.sum("__ntok").over(w), F.lit(0))
        )
        .select(
            pid,
            F.col(id_col),
            (F.col("__start") + 1).alias("doc_start"),
            (F.col("__start") + F.col("__ntok")).alias("doc_end"),
        )
    )
    # flatten token ARRAYS (not join text fragments): zero-token docs
    # vanish instead of leaving a double space, so packed_text is
    # strictly the canonical token stream.  Documents sort by (id, token
    # count) first, as the offsets window above does, so a duplicate id
    # cannot put one document's tokens under another's offsets.
    arr = F.flatten(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("i"),
                        F.col("__ntok").alias("n"),
                        F.col("__ctoks").alias("t"),
                    )
                )
            ),
            lambda s: s["t"],
        )
    )
    out_cols = [pid, "group", "shard", "packed_text", "n_docs", "n_tokens"]
    aggs = [
        arr.alias("__parr"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__ntok").alias("n_tokens"),
    ]
    seqs = (
        packed.groupBy("group", "shard")
        .agg(*aggs)
        .withColumn("packed_text", F.array_join("__parr", " "))
    )
    if tokens_out:
        seqs = seqs.withColumnRenamed("__parr", "packed_toks")
        out_cols.append("packed_toks")
    seqs = seqs.select(*out_cols)
    return seqs, docs


def packed_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 4096,
    n_groups: int = 8,
    n: int = 5,
    min_tokens: int = 8,
) -> DataFrame:
    """Final-pass sequence dedup AFTER packing: exact duplicate token
    windows across PACKED training sequences — including windows that
    exist only because packing spliced two documents next to each other,
    the boundary-crossing class document-level span dedup cannot see
    (:func:`dedup.cut_spans` documents the same splice effect in the
    other direction).  Completes the clean → chunk → pack → dedup export
    chain (:func:`c4_clean` → :func:`chunk_documents` →
    :func:`pack_shards` → here).

    Plan: :func:`packed_sequences`, then
    :func:`dedup.duplicated_spans` over the pack sequences — linear in
    the token stream, NO pair join (the d10 plan shape, pinned in
    tests/test_plans.py) — then ONE bounded equi-join of the span
    report against the per-doc offset map (on pack_id; spans per pack
    are few by construction) to count the documents each span touches.

    A window is reported when its content appears in ≥ 2 PACKS
    (``min_docs=2`` at pack granularity); two copies landing inside the
    same pack are the upstream doc-level dedup's job.

    Returns ``(group, shard, span_start, span_end, span_tokens,
    n_docs_touched, crosses_boundary)``; ``crosses_boundary`` = the
    span overlaps ≥ 2 documents of its pack.
    """
    from .dedup import duplicated_spans

    seqs, docs = packed_sequences(
        df, id_col, text_col, budget, n_groups, tokens_out=True
    )
    spans = duplicated_spans(
        # the token ARRAY, not the joined text: skips re-splitting the
        # packed corpus (round 12; exactly equal — see packed_sequences)
        seqs, id_col="pack_id", text_col="packed_toks",
        n=n, min_tokens=min_tokens, min_docs=2,
    )
    touched = (
        spans.join(docs, "pack_id")
        .filter(
            (F.col("doc_start") <= F.col("span_end"))
            & (F.col("doc_end") >= F.col("span_start"))
            # a zero-token doc has an inverted (start, end) range; the
            # two-sided predicate alone would still count it as touched
            # by any span covering its splice point (review r10)
            & (F.col("doc_end") >= F.col("doc_start"))
        )
        .groupBy("pack_id", "span_start", "span_end", "span_tokens")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs_touched"))
    )
    return touched.select(
        F.shiftright(F.col("pack_id"), 40).cast("int").alias("group"),
        (F.col("pack_id") % _PACK_STRIDE).cast("int").alias("shard"),
        "span_start",
        "span_end",
        "span_tokens",
        "n_docs_touched",
        (F.col("n_docs_touched") >= 2).alias("crosses_boundary"),
    )


def packed_span_cut(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 4096,
    n_groups: int = 8,
    n: int = 5,
    min_tokens: int = 8,
) -> DataFrame:
    """Cut duplicated windows out of packed sequences, keeping the FIRST
    occurrence: span occurrences are linked by the 64-bit hash of their
    exact span text (maximal spans with identical content), ranked by
    ``(pack_id, span_start)``, and every occurrence after the first is
    removed via :func:`dedup.cut_spans`.  Maximal spans whose extents
    differ between packs hash differently and are left alone — the
    conservative choice: only provably identical windows are cut, and
    iterating find → cut converges exactly as cut_spans documents.

    Returns the :func:`packed_sequences` ``seqs`` frame with
    ``packed_text`` rebuilt and ``n_tokens`` RECOMPUTED from the cut
    text (review r10: a stale pre-cut count would poison any budget
    accounting downstream); ``n_docs`` stays the PRE-cut provenance —
    how many documents were packed — since cutting removes tokens,
    not document membership.
    """
    from .dedup import _persist_scoped, cut_spans, duplicated_spans
    from .text import tokens_col

    seqs, _docs = packed_sequences(df, id_col, text_col, budget, n_groups)
    seqs = _persist_scoped(seqs)  # span finder + link join + cut all read it
    spans = duplicated_spans(
        seqs, id_col="pack_id", text_col="packed_text",
        n=n, min_tokens=min_tokens, min_docs=2,
    )
    toks = tokens_col(F.col("packed_text"))
    linked = spans.join(seqs.select("pack_id", "packed_text"), "pack_id").withColumn(
        "__span_key",
        F.xxhash64(
            F.array_join(F.slice(toks, F.col("span_start"), F.col("span_tokens")), " ")
        ),
    )
    w = Window.partitionBy("__span_key").orderBy("pack_id", "span_start")
    to_cut = (
        linked.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select("pack_id", "span_start", "span_end", "span_tokens")
    )
    out = cut_spans(seqs, to_cut, id_col="pack_id", text_col="packed_text")
    return out.withColumn("n_tokens", F.size(tokens_col(F.col("packed_text"))).cast("long"))


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    min_words_per_line: int = 5,
    min_lines: int = 3,
    banned_line_words: tuple[str, ...] = ("javascript",),
    banned_doc_substrings: tuple[str, ...] = ("lorem ipsum", "{"),
    terminal_punct: tuple[str, ...] = (".", "!", "?", '"'),
) -> DataFrame:
    """C4-style rule-based corpus cleaning (Raffel et al. 2020, the
    cleaning recipe behind the C4 pre-training corpus; public method,
    §2.2 of the T5 paper): LINE-level filters — keep a line only if it
    ends in a terminal punctuation mark, has at least
    ``min_words_per_line`` words, and mentions none of
    ``banned_line_words`` — plus DOC-level filters — drop the whole
    document if its ORIGINAL text contains any of
    ``banned_doc_substrings`` (C4 drops 'lorem ipsum' placeholder pages
    and '{'-bearing code pages) or if fewer than ``min_lines`` lines
    survive the line filters.

    The reference's cleaning surface stops at fillna/dedup/replace
    (``/root/reference/simple_etl.py:192-228``); this is the
    rule-filtering pass a 100 TB crawl actually runs before any of it.

    Scale shape: one map-side projection, NO shuffle — lines live in a
    bounded per-document array, filtered with a higher-order ``filter``
    whose lambda is ordinary string predicates. HOF lambdas evaluate
    interpreted per element (the plan-lint ``allow_hofs`` case), which
    is the right trade here: the alternative explode→filter→re-group
    costs a corpus-wide shuffle to reassemble documents. Document
    boundaries never cross rows, so the operator is embarrassingly
    parallel and reshard-stable.

    Adds ``n_lines`` (pre-filter), ``n_lines_kept`` and ``out_col``
    (kept lines re-joined with newlines); emits only surviving docs.
    """
    if min_words_per_line < 1 or min_lines < 1:
        raise ValueError("min_words_per_line and min_lines must be >= 1")
    from .text import tokens_col

    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _line_ok(line: Column) -> Column:
        trimmed = F.trim(line)
        ok = F.substring(trimmed, -1, 1).isin(*terminal_punct)
        # ONE tokenization rule library-wide (review: the inline
        # split/strip twin could drift from tokens_col independently)
        words = F.size(tokens_col(trimmed, lowercase=False))
        ok = ok & (words >= min_words_per_line)
        low = F.lower(line)
        for w in banned_line_words:
            ok = ok & ~low.contains(F.lit(w.lower()))
        return ok

    doc_ok = F.lit(True)
    low_t = F.lower(t)
    for b in banned_doc_substrings:
        doc_ok = doc_ok & ~low_t.contains(F.lit(b.lower()))

    return (
        df.withColumn("n_lines", F.size(lines))
        .withColumn("__kept", F.filter(lines, _line_ok))
        .withColumn("n_lines_kept", F.size("__kept"))
        .filter(doc_ok & (F.col("n_lines_kept") >= min_lines))
        .withColumn(out_col, F.array_join("__kept", "\n"))
        .drop("__kept")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    chunking pass that turns a cleaned corpus into training sequences /
    retrieval passages. Windows start at 0, ``stride``, 2·stride, …;
    the FINAL window is re-anchored to ``n − chunk_tokens`` when the
    last strided start would leave a tail uncovered, so every token is
    covered and every window is full-size (the only short chunk is a
    document shorter than ``chunk_tokens``, which yields exactly one).

    Scale shape: tokenize → per-doc start list (a bounded arithmetic
    array) → ``posexplode`` — pure map-side expansion, NO shuffle, no
    Python. Output grows ~``1/stride`` × token count; callers feeding a
    narrow compressed scan should ``rebalance_for_expansion`` first
    (same choke as the shingle pipelines). Chunk identity
    (``chunk_id``, ``start``) is pure arithmetic on token positions —
    reshard-stable and reproducible, so chunk sets from different runs
    or engines can be diffed row-for-row.

    Emits (id, chunk_id, start, n_tokens, chunk_text); tokenization is
    :func:`text.tokens_col` (lowercased whitespace tokens). Documents
    with no tokens yield no chunks.
    """
    if chunk_tokens < 1 or stride < 1 or stride > chunk_tokens:
        raise ValueError("need 1 <= stride <= chunk_tokens")
    from .text import tokens_col

    toks = tokens_col(text_col)
    max_start = F.greatest(F.size(toks) - chunk_tokens, F.lit(0))
    base = F.sequence(F.lit(0), max_start, F.lit(stride))
    starts = F.when(max_start % stride == 0, base).otherwise(
        F.concat(base, F.array(max_start))
    )
    rows = df.select(
        F.col(id_col), toks.alias("__toks"), F.posexplode(starts).alias("chunk_id", "start")
    )
    chunk = F.slice(F.col("__toks"), F.col("start") + 1, chunk_tokens)
    return (
        rows.select(
            id_col,
            "chunk_id",
            "start",
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def temperature_rates(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.5,
) -> dict[str, float]:
    """Temperature-based mixture rates (the multilingual-LM sampling
    rule — mBERT/XLM-R style: sample group g with probability
    ∝ n_g^alpha): returns per-group keep-rates r_g ∝ n_g^(alpha−1),
    normalized so the best-kept group keeps everything (max r = 1) —
    feed straight into :func:`mixture_sample`.  alpha < 1 flattens the
    mixture (big sources downsampled toward small ones), alpha = 1
    keeps natural proportions, alpha = 0 equalizes expected counts.

    EAGER: collects one row per group (bounded by group cardinality).
    Rates are quantized to 6 dp with an explicit half-up floor so an
    external engine can reproduce them; for ``alpha=0.5`` the weight is
    computed as ``1/sqrt(n)`` — division and square root are IEEE
    correctly-rounded in every engine, so the rates (and therefore the
    kept set) are BIT-EXACT cross-engine, which is what the t17 oracle
    pins.  Other alphas go through ``pow``, whose last-ulp rounding is
    libm-specific — fine for training mixtures, not for hash-exact
    oracles (documented trade)."""
    import math

    counts = {r[0]: r[1] for r in df.groupBy(group_col).count().collect()}
    if not counts:
        raise ValueError("empty corpus: no groups to rate")
    if alpha == 0.5:
        w = {g: 1.0 / math.sqrt(float(n)) for g, n in counts.items()}
    else:
        w = {g: float(n) ** (alpha - 1.0) for g, n in counts.items()}
    mx = max(w.values())
    return {g: math.floor(v / mx * 1e6 + 0.5) / 1e6 for g, v in w.items()}
