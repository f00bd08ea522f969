"""Similarity search over embedding columns (SURVEY §2 B24).

Exact, SQ8 and PQ brute force, the IVF index and LSH all answer "the
top-k most cosine-similar corpus vectors per query":

* Every Arrow-batch scorer is :func:`_blas_topk`: the small query set
  ships to each task, each batch of corpus vectors is scored as one
  float64 BLAS matmul (or PQ lookup-table gathers) and cut to a
  lossless per-batch candidate set, so the corpus vectors never shuffle.
  It serves :func:`cosine_topk`, :func:`cosine_topk_quantized`,
  :func:`pq_topk`, :func:`ivf_topk` and :func:`ivf_probe_index`.
* The IVF index assigns vectors to centroid cells written as
  partitions, so a probe reads only its ``n_probe`` cells, stored as
  floats, SQ8 or (residual) PQ codes.  Its cells, probes and pair
  scores have one implementation each, all in numpy: the cell rule of
  :func:`_assign_cosine_argmax_blas`, the driver-side probe ranking of
  :func:`_query_probes` and the :func:`_blas_topk` scorer.
* LSH random-projection buckets make the join candidate-only.

Three JVM expression faces (``zip_with`` + ``aggregate``) remain, each
because something replays or checks it: ``cosine_topk(vectorized=False)``
and ``pq_topk(adc="expression")`` with :func:`pq_reconstruct_col` are
the references the tests hold the kernel to, and the rounded
:func:`_assign_cosine_argmax` is the cell rule the d09, s07 and st12
SQL oracles replay.

Every top-k ends in :func:`_rank_topk`: a pair with no score (a NULL
or zero-norm vector on either side) is dropped, and the rest rank by
rounded cosine desc, then neighbor_id asc.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, JVM-side.
    A zero-norm side yields NULL (``try_divide``) rather than an ANSI
    divide-by-zero task failure — :func:`_rank_topk` drops it, as it
    drops the BLAS kernel's NaN."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _rank_topk(
    scored: DataFrame, k: int, round_to: int | None, *keep: str,
    threshold: float | None = None,
) -> DataFrame:
    """The one tail of every top-k here, over a ``(query_id,
    neighbor_id, *keep, cosine)`` frame: drop pairs with no score (NULL
    from :func:`cosine_sim`, NaN from :func:`_blas_topk`), round, then
    keep each query's k best by cosine desc, neighbor_id asc — or, with
    a ``threshold``, every pair with ``cosine >= threshold``, unranked.
    Ranking on the rounded value keeps ties, and so the neighbor_id
    tie-break, the same across faces and engines.

    NaN becomes NULL, which passes no threshold and sorts after every
    score, so the NULL filter can sit above the window."""
    cos = F.nanvl(F.col("cosine"), F.lit(None).cast("double"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = scored.select("query_id", "neighbor_id", *keep, cos.alias("cosine"))
    if threshold is not None:
        return scored.filter(F.col("cosine") >= threshold)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        (F.col("rank") <= k) & F.col("cosine").isNotNull()
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    include_self: bool = False,
    round_to: int | None = None,
    vectorized: bool = True,
) -> DataFrame:
    """B24 exact baseline — for each query vector, the top-k most cosine-
    similar corpus vectors.

    Plan: the corpus is read once, partition-parallel, scored against the
    (small by contract) query set, then ``row_number`` window per query —
    the vectors themselves never shuffle; only (id, id, score) rows do.

    Scoring has two implementations producing the same row multiset:

    * ``vectorized=True`` (default): :func:`_blas_topk` scores every
      Arrow batch as ONE float64 BLAS matmul (``(B×d) @ (d×Q)``) and
      cuts it to a lossless per-batch candidate set — measured ~4×
      faster than the expression path at sf1 (20 k × 128-dim corpus).
      The queries were already driver-collected under the broadcast
      join, so this moves no new data through the driver.
    * ``vectorized=False``: broadcast-cross-join with the cosine as JVM
      higher-order expressions (``zip_with`` + ``aggregate``) — fully
      codegen, no Python workers; kept as the cross-check twin (tested
      equal) and for clusters where Python workers are unwelcome.

    Both end in :func:`_rank_topk`: a NULL or zero-norm vector scores
    no pair, and rounding happens JVM-side before the rank, so the
    paths differ only in float summation order, which the oracle-grade
    rounding absorbs.
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    if vectorized:
        return _blas_topk(
            corpus, _collect_queries(q), k, id_col, vec_col, round_to,
            exclude_self=not include_self,
        )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id",
        cosine_sim(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
    )
    if not include_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    return _rank_topk(scored, k, round_to)


def _lsh_pairs(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
    bucket_len: float, num_hash_tables: int, max_l2: float,
) -> DataFrame:
    """(query_id, neighbor_id, l2) for every non-self pair whose
    L2-normalized vectors share a bucket in one of the random-projection
    tables (seed 42) and lie within ``max_l2`` — the candidate
    generator of both LSH faces."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, ident: str) -> DataFrame:
        v = df.select(
            F.col(id_col).alias(ident),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("raw"),
        )
        return Normalizer(inputCol="raw", outputCol="vec", p=2.0).transform(v).drop("raw")

    c, q = prep(corpus, "neighbor_id"), prep(queries, "query_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=bucket_len,
        numHashTables=num_hash_tables, seed=42,
    )
    return (
        lsh.fit(c)
        .approxSimilarityJoin(c, q, max_l2, distCol="l2")
        .select(
            F.col("datasetB.query_id").alias("query_id"),
            F.col("datasetA.neighbor_id").alias("neighbor_id"),
            "l2",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_len: float = 2.0,
    num_hash_tables: int = 4,
    max_l2: float = 1.4,
) -> DataFrame:
    """B24 ANN scale path — BucketedRandomProjectionLSH over L2-normalized
    vectors; candidates only where buckets collide, then exact re-rank.
    Recall tuned by ``num_hash_tables``/``bucket_len`` (tested by
    recall@k against :func:`cosine_topk`, not hash equality)."""
    pairs = _lsh_pairs(corpus, queries, id_col, vec_col, bucket_len, num_hash_tables, max_l2)
    # on unit vectors: cos = 1 - l2²/2
    return _rank_topk(pairs.withColumn("cosine", 1 - F.col("l2") * F.col("l2") / 2), k, None)


def lsh_verified_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_len: float = 4.0,
    num_hash_tables: int = 8,
    round_to: int | None = None,
) -> DataFrame:
    """B24 verified face (the d03v pattern applied to ANN): LSH candidate
    generation in RECALL MODE, then exact cosine re-rank computed from the
    raw embedding arrays with the same expression as :func:`cosine_topk`.

    Recall mode = wide buckets + many tables: on L2-normalized vectors
    every random projection lands in [-1, 1], so with ``bucket_len >= 2``
    a table collision only requires the two projections to share a SIGN
    — a true neighbor at angle θ collides in one table with probability
    1 - θ/π and is missed by ALL tables with probability ≈ (θ/π)^T
    (T = ``num_hash_tables``; ~6e-6 at θ=π/4, T=8).  The guarantee is
    therefore probabilistic, not structural: "output EQUALS exact top-k"
    holds for the fixed seed and test data the oracle pins, with the
    residual miss probability documented here rather than hidden.
    Because the re-rank uses the identical arithmetic path as the exact
    baseline (dot/norm over the original arrays, rounded before
    ranking), any candidate-set equality does yield exact equality of
    the ranked output, which is what the SQL oracle checks end-to-end.
    This is proof apparatus: the production path is :func:`lsh_topk`
    with tight buckets, which trades that guarantee for a
    candidate-only join.
    """
    # max distance on unit vectors is 2.0 — candidates are bucket-collisions only
    cand = _lsh_pairs(
        corpus, queries, id_col, vec_col, bucket_len, num_hash_tables, 2.0
    ).drop("l2").distinct()
    # exact re-rank from the RAW arrays — bit-identical to cosine_topk
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    scored = cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    scored = scored.withColumn("cosine", cosine_sim(F.col("__qvec"), F.col("__cvec")))
    return _rank_topk(scored, k, round_to)


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list]:
    """B24 IVF building block — sample ``n_centroids`` centroids
    deterministically (smallest ``xxhash64(id)``) and assign every
    vector to its cell with :func:`_assign_cosine_argmax_blas`, map-side.
    Partitioning the corpus by ``centroid`` turns later queries into
    probes of a few partitions instead of full scans."""
    cents = [
        (i, [float(x) for x in r[vec_col]])
        for i, r in enumerate(corpus.select(vec_col).orderBy(F.xxhash64(id_col)).limit(n_centroids).collect())
    ]
    return _assign_cosine_argmax_blas(corpus, cents, vec_col, out_col="centroid"), cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """B24 IVF search path: assign the corpus to centroids once, then
    each query probes only its ``n_probe`` nearest centroids — exact
    cosine runs against ~n_probe/n_centroids of the corpus instead of
    all of it.  Approximate (a true neighbor in an unprobed cell is
    missed); recall governed by ``n_probe`` and tested by recall@k
    against :func:`cosine_topk`.

    The probe sets rank on the driver (:func:`_query_probes`), the
    corpus is filtered to the probed cells, and :func:`_blas_topk`
    scores each probed pair.  At scale the corpus is written partitioned
    by ``centroid`` (:func:`ivf_write_index`) so the cell filter becomes
    partition pruning; :func:`ivf_probe_index` is that path and returns
    the same rows for the same centroids.
    """
    assigned, cents = ivf_assign(corpus, n_centroids, id_col, vec_col)
    q = _query_probes(queries, cents, n_probe, id_col, vec_col)
    probed = assigned.filter(F.col("centroid").isin(q.probed()))
    return _blas_topk(probed, q, k, id_col, vec_col, round_to)


class _Queries(NamedTuple):
    """The query side of :func:`_blas_topk`, collected to the driver —
    small by contract."""

    vecs: dict  # query_id -> vector; NULL vectors dropped, a repeated id keeps its first
    qid_type: DataType
    cells: dict | None = None  # query_id -> probed cell ids (an IVF probe)

    def probed(self) -> list:
        """The probed cell ids, sorted: ≤ n_centroids values."""
        return sorted({c for cs in (self.cells or {}).values() for c in cs})


def _collect_queries(q: DataFrame) -> _Queries:
    """Collect a ``(query_id, __qvec)`` frame into :class:`_Queries`."""
    vecs: dict = {}
    for r in q.collect():
        if r["__qvec"] is not None:  # a NULL-vector query scores nothing
            vecs.setdefault(r["query_id"], list(r["__qvec"]))
    return _Queries(vecs, q.schema["query_id"].dataType)


def _unit_cents(cents: list):
    """``(ids, C, Cn)`` of a ``[(cell id, vector)]`` list: the ids, the
    centroid matrix and its rows scaled by ``1/(‖C_j‖ + 1e-12)``.  The
    IVF cell rule scores vector x against cell j as ``x · Cn_j`` (the
    constant ‖x‖ is skipped) and the first maximum wins."""
    import numpy as np

    ids = np.array([int(i) for i, _ in cents], dtype=np.int32)
    C = np.ascontiguousarray(np.array([v for _, v in cents], dtype=np.float64))
    return ids, C, C / (np.linalg.norm(C, axis=1)[:, None] + 1e-12)


def _query_probes(
    queries: DataFrame, cents: list, n_probe: int, id_col: str, vec_col: str
) -> _Queries:
    """Collect the queries and give each its ``n_probe`` probed cells:
    the centroids ranked by the cell rule of :func:`_unit_cents`, score
    desc, ties to the lowest position in ``cents`` (a stable sort), so
    ``n_probe=1`` probes exactly the cell :func:`_assign_cosine_argmax_blas`
    assigns.  The cells are the caller-supplied ids from ``cents``, so
    probes line up with the index partitions for any id scheme."""
    import numpy as np

    q = _collect_queries(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    )
    ids, _, Cn = _unit_cents(cents)
    cells = {}
    if q.vecs:
        scores = np.array(list(q.vecs.values()), dtype=np.float64) @ Cn.T  # Q×cells
        for qid, s in zip(q.vecs, scores):
            cells[qid] = [int(ids[p]) for p in np.argsort(-s, kind="stable")[:n_probe]]
    return q._replace(cells=cells)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
    centroids: list | None = None,
    pq: list | None = None,
    pq_residual: bool = False,
) -> dict:
    """B24 — build and PERSIST the IVF index (round 6): the similarity
    twin of the dedup family's ``minhash_signatures`` parquet index.
    Writes ``<path>/vectors`` partitioned by centroid (so a probe is
    partition PRUNING on disk, not an in-memory filter) and a
    ``<path>/centroids`` sidecar (n_centroids rows).  Build once, probe
    every batch with :func:`ivf_probe_index` — at 100 TB the corpus is
    scanned once at build time and each query batch touches only
    n_probe/n_centroids of the files afterwards.  Each vector lands in
    its cell by the one IVF cell rule, :func:`_assign_cosine_argmax_blas`
    (map-side numpy), which append and probe share.

    ``quantize=True`` stores the vectors SQ8-encoded
    (:func:`quantize_embeddings`: ``array<tinyint>`` codes + per-vector
    scale) — a 4–8× smaller index whose probe scans shrink by the same
    factor.  The probe scores corpus CODES against float queries:
    cosine's scale invariance cancels the per-vector corpus scale
    exactly, so only corpus-side quantization error remains (recall
    bound pinned in tests).  The layout is self-describing — the probe
    detects the code column in the index schema; no flag travels.

    ``pq=<codebooks from pq_fit>`` stores PQ codes instead — IVF-PQ,
    the standard web-scale ANN layout (coarse cells for pruning ×
    product codes for in-cell compression): m bytes per vector (32×
    smaller than float32 at m=d/8) plus a ``<path>/pq_codebooks``
    sidecar, so probes read a few small partitions of byte codes and
    rebuild scores from the sidecar.  Mutually exclusive with
    ``quantize``; recall bound vs the float index pinned in tests.

    ``pq_residual=True`` encodes PER-CELL RESIDUALS ``x −
    centroid[cell]`` instead of raw vectors — the standard IVF-PQ
    formulation (FAISS ``IndexIVFPQ``): the coarse quantizer already
    pins the cell, so the codewords spend entirely on the within-cell
    offset and raw ADC recall recovers without over-retrieve (round-10
    measured raw-vector ADC at 0.43 recall@10 on 2M×64d; the residual
    variant's bound is pinned in tests and IVFPQ_SCALE_r11.json).
    Requires explicit ``centroids`` (fit the codebooks with
    :func:`pq_fit` over :func:`residualize`'s output against the SAME
    set); the sidecar carries a ``residual`` marker so probe/append
    self-describe, and pre-round-11 sidecars without the column read as
    raw (back-compatible).

    ``centroids`` overrides the default xxhash64 sample — pass
    :func:`kmeans_fit` centers (a bare k×d vector list) for
    data-adaptive cells (the web-scale regime) or
    :func:`semantic_centroids`' ``[(cell_id, [floats]), ...]`` pairs
    for an engine-portable sample; ``n_centroids`` is ignored when
    given.  Both shapes go through :func:`_norm_centroids`, and the
    assignment honors the supplied cell ids (gapped/out-of-order ids
    included), so the partition values, the sidecar, and every later
    :func:`ivf_append_index` / :func:`ivf_probe_index` agree on one id
    scheme."""
    if pq is not None and quantize:
        # argument-only check — must fire before the centroid-sampling
        # job, not after it (review: misuse used to cost a corpus scan)
        raise ValueError("ivf_write_index: pick ONE of quantize (SQ8) or pq")
    if pq_residual and pq is None:
        raise ValueError("ivf_write_index: pq_residual requires pq codebooks")
    if pq_residual and centroids is None:
        # residual codebooks are only meaningful against the EXACT
        # centroid set they were trained on (pq_fit over residualize's
        # output) — an internally-sampled set would silently mismatch
        raise ValueError(
            "ivf_write_index: pq_residual requires explicit centroids "
            "(the set the residual codebooks were fit against)"
        )
    if pq is not None:
        _pq_shape(pq)  # validate before any job or write lands
    if centroids is not None:
        cents = _norm_centroids(centroids)
        if len({i for i, _ in cents}) != len(cents):
            raise ValueError("ivf_write_index: duplicate centroid cell ids")
        # id-sorted BEFORE assignment (review fix): probe/append read the
        # sidecar orderBy(centroid), so the build must tie-break score
        # ties (e.g. duplicate centroid vectors) in the SAME order or
        # tied vectors land in a partition the probe never reads
        cents = sorted(cents, key=lambda c: c[0])
    else:
        _, cents = ivf_assign(corpus, n_centroids, id_col, vec_col)
    encoding = "pq" if pq is not None else "sq8" if quantize else "float"
    _write_ivf_segment(
        corpus, path, vec_col, _IvfLayout(cents, encoding, pq, pq_residual), "overwrite"
    )
    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in cents],
        "centroid int, vec array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    if pq is not None:
        m, kk, _ = _pq_shape(pq)
        bdf = spark.createDataFrame(
            [
                (s, j, [float(x) for x in pq[s][j]], bool(pq_residual))
                for s in range(m)
                for j in range(kk)
            ],
            "s int, j int, vec array<double>, residual boolean",
        )
        bdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_codebooks")
    return {"n_centroids": len(cents), "path": path}


class _IvfLayout(NamedTuple):
    """How one IVF index stores its vectors.  Build states it from its
    arguments; probe and append get it from :func:`_read_ivf_layout`,
    so all three agree on one encoding decision."""

    cents: list  # [(cell id, vector)], sorted by cell id
    encoding: str  # "float" | "sq8" | "pq"
    books: list | None = None  # PQ codebooks
    residual: bool = False  # PQ codes quantize x - centroid[cell]
    vectors: DataFrame | None = None  # <path>/vectors, as read


def _read_ivf_layout(spark, path: str, vec_col: str) -> _IvfLayout:
    """The one layout reader of a persisted IVF index, shared by probe
    and append: the centroid sidecar, the encoding detected from the
    ``vectors`` schema (``pq_code`` -> PQ with its codebook sidecar and
    residual flag; ``vec_col`` -> float; ``emb_q`` -> SQ8), and the
    read frame the probe scans.  A schema that matches none of them
    raises instead of letting an append land a second file schema."""
    cents = [
        (r["centroid"], list(r["vec"]))
        for r in spark.read.parquet(f"{path}/centroids").orderBy("centroid").collect()
    ]
    vectors = spark.read.parquet(f"{path}/vectors")
    cols = vectors.columns
    books, residual = None, False
    if "pq_code" in cols:
        encoding = "pq"
        books, residual = _read_pq_sidecar(spark, path)
    elif vec_col in cols:
        encoding = "float"
    elif "emb_q" in cols:
        encoding = "sq8"
    else:
        arrays = [f.name for f in vectors.schema.fields if f.dataType.typeName() == "array"]
        raise ValueError(
            f"IVF index at {path} stores its vectors in {arrays}: vec_col={vec_col!r} "
            "matches neither its float layout nor the SQ8 layout (emb_q)"
        )
    return _IvfLayout(cents, encoding, books, residual, vectors)


def _write_ivf_segment(
    df: DataFrame, path: str, vec_col: str, layout: _IvfLayout, mode: str
) -> None:
    """The one vector write path of build (``mode="overwrite"``) and
    append (``"append"``): assign rows to the index's frozen cells,
    encode them in its layout and write them partitioned by cell."""
    assigned = _assign_cosine_argmax_blas(df, layout.cents, vec_col, out_col="centroid")
    if layout.encoding == "pq":
        if layout.residual:
            # encode x − centroid[cell], not x (FAISS IndexIVFPQ): the
            # cell id already carries the coarse position, so codewords
            # spend entirely on the within-cell offset — the fix for
            # round-10's raw-ADC recall collapse (0.43 at 2M×64d)
            assigned = residualize(assigned, layout.cents, vec_col=vec_col)
            assigned = pq_encode(
                assigned, layout.books, vec_col="__resid", assign="blas"
            ).drop(vec_col)
        else:
            assigned = pq_encode(assigned, layout.books, vec_col=vec_col, assign="blas")
    elif layout.encoding == "sq8":
        assigned = quantize_embeddings(assigned, vec_col=vec_col)
    # cluster rows by cell before the partitioned write (round 10):
    # without it every input partition writes a sliver of every cell —
    # cells x input-partitions tiny files whose per-file open cost
    # dominated the probe at the 2M/256-cell scale point.  One shuffle
    # of the (small, coded) rows buys ~one file per cell; a cell is the
    # parallelism unit at probe time either way, and oversized cell
    # files still split on read via parquet row groups.
    assigned = assigned.repartition(F.col("centroid"))
    assigned.write.mode(mode).partitionBy("centroid").parquet(f"{path}/vectors")


def _read_pq_sidecar(spark, path: str) -> tuple[list, bool]:
    """ONE sidecar read serving both the codebooks and the residual
    marker (review r11: probe/append used to scan the same file twice).
    Pre-round-11 sidecars lack the ``residual`` column — raw by
    construction, so absent reads False."""
    sdf = spark.read.parquet(f"{path}/pq_codebooks")
    has_flag = "residual" in sdf.columns
    rows = sdf.orderBy("s", "j").collect()
    residual = bool(has_flag and rows and rows[0]["residual"])
    if has_flag:
        # the flag is a per-INDEX property stamped on every row; mixed
        # values mean a partial rewrite — reject like a torn grid
        # instead of silently trusting rows[0] (ADVICE r11)
        flags = {bool(r["residual"]) for r in rows}
        if len(flags) > 1:
            raise ValueError(
                "pq_codebooks sidecar is torn: mixed residual flags "
                f"{sorted(flags)}"
            )
    m = max(r["s"] for r in rows) + 1
    k = max(r["j"] for r in rows) + 1
    if len(rows) != m * k:
        raise ValueError(f"pq_codebooks sidecar is torn: {len(rows)} rows for {m}x{k}")
    books: list[list[list[float]]] = [[None] * k for _ in range(m)]  # type: ignore[list-item]
    for r in rows:
        books[r["s"]][r["j"]] = [float(x) for x in r["vec"]]
    # a duplicate (s, j) row plus a missing cell passes the row-count
    # check but leaves a None codeword that fails later inside an
    # expression (or scores wrongly) — require the grid to be dense
    missing = [(s, j) for s in range(m) for j in range(k) if books[s][j] is None]
    if missing:
        raise ValueError(f"pq_codebooks sidecar is torn: missing cells {missing[:4]}")
    return books, residual


def ivf_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    threshold: float | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """B24 — probe a persisted :func:`ivf_write_index` index.  Same
    semantics as :func:`ivf_topk` with the same centroid sample (so the
    two are result-identical for the same corpus/params), but the
    corpus side is the on-disk partitioned index: the queries collect
    once (:func:`_query_probes`, small by contract), and their probed
    cell set (≤ n_centroids ids) becomes a static partition filter, so
    the scan reads only the probed directories — verified by a
    PartitionFilters plan assertion in tests.

    Every layout scores through :func:`_blas_topk`, one BLAS matmul per
    Arrow batch of probed vectors: float vectors directly, SQ8 codes
    directly (the per-vector scale cancels out of cosine), and PQ codes
    through lookup tables built from the sidecar books (for cosine that
    IS ADC: subspaces are disjoint), with a residual layout's centroid
    terms folded into the tables.  ``round_to`` rounds JVM-side before
    the rank or threshold.

    ``threshold`` switches from per-query top-k to PAIR emission:
    every (query, neighbor) in a probed cell with ``cosine >=
    threshold`` comes back (columns ``query_id, neighbor_id, centroid,
    cosine``), with NO window shuffle — the streaming-dedup probe shape
    used by :func:`etlbigdata_spark.streaming.ops.foreach_batch_ann_probe`."""
    layout = _read_ivf_layout(spark, path, vec_col)
    q = _query_probes(queries, layout.cents, n_probe, id_col, vec_col)
    assigned = layout.vectors.filter(F.col("centroid").isin(q.probed()))
    corpus_vec = {"float": vec_col, "sq8": "emb_q", "pq": "pq_code"}[layout.encoding]
    return _blas_topk(
        assigned, q, k, id_col, corpus_vec, round_to, threshold, exclude_self,
        pq_books=layout.books,
        pq_residual_cents=dict(layout.cents) if layout.residual else None,
    )


def _blas_topk(
    corpus: DataFrame, q: _Queries, k: int, id_col: str, vec_col: str,
    round_to: int | None, threshold: float | None = None, exclude_self: bool = True,
    pq_books: list | None = None, pq_residual_cents: dict | None = None,
) -> DataFrame:
    """The one Arrow-batch cosine scorer (the per-partition local top-k
    that the window in :func:`_rank_topk` merges globally).

    The collected queries ``q`` ship to every task.  Each Arrow batch of
    ``corpus`` vectors is scored as one ``B x d @ d x Q`` float64
    matmul.  ``pq_books`` scores PQ codes through lookup tables
    instead, and ``pq_residual_cents`` adds the centroid terms of a
    residual IVF-PQ layout.

    Candidates: with ``q.cells`` (an IVF probe) a pair scores only if
    the query probed the corpus row's ``centroid``; without them every
    row is a candidate for every query.  A NULL vector on either side
    scores nothing, and a zero-norm one scores NaN, which neither the
    cut nor the emission counts.

    The per-batch cut keeps a row iff its score is at least the k-th
    largest for that query within the batch minus a slack of one
    rounding unit 10^-round_to (no slack without ``round_to``: the rank
    then orders the same doubles).  That is LOSSLESS for the global top-k:
    a dropped row is beaten by k same-batch rows by more than the
    slack, so JVM-side rounding (whose disagreement with this worker's
    float rounding is at most 1 ULP) cannot lift it into the top-k.
    Emitted rows per batch are therefore ~(k + tie band) x Q instead of
    B x Q.  Self-exclusion, rounding, the threshold filter and the rank
    all run JVM-side in :func:`_rank_topk`, as on the expression
    references, so the kernel and the references agree row for row
    (tested)."""
    import numpy as np
    from pyspark.sql import types as T

    cells = q.cells is not None
    out_schema = T.StructType(
        [
            T.StructField("query_id", q.qid_type),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            *([T.StructField("centroid", T.IntegerType())] if cells else []),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    keep = ("centroid",) if threshold is not None else ()
    if not q.vecs:  # empty/all-NULL query set: 0×d matmul would crash
        empty = corpus.sparkSession.createDataFrame([], out_schema)
        return _rank_topk(empty, k, round_to, *keep, threshold=threshold)
    qids_list = list(q.vecs)
    qm = np.array([q.vecs[i] for i in qids_list], dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1)
    allow = None
    if cells:
        cells_sorted = q.probed()
        cell_pos = {c: i for i, c in enumerate(cells_sorted)}
        # one sentinel all-False row at index -1: a corpus row in a cell no
        # query probed masks to no-candidates instead of a KeyError, so the
        # kernel is safe even when a caller skips the probed-cell pre-filter
        allow = np.zeros((len(cells_sorted) + 1, len(qids_list)), dtype=bool)
        for qi, qid in enumerate(qids_list):
            for c in q.cells[qid]:
                allow[cell_pos[c], qi] = True
    qids = np.array(qids_list)
    # PQ scores via the real ADC LUT route (round 10): per subspace s,
    # dot_lut[s] = books[s] @ q_sub[s].T (k x Q) and a codeword-norm²
    # table — score = gathered-sum over subspaces, NEVER a per-row
    # reconstruct (subspaces are disjoint, so the LUT sums equal the
    # reconstructed dot and norm exactly up to float order, which the
    # JVM rounding absorbs).
    dot_luts = norm2_luts = None
    qc_dot = cnorm2 = cross = s_idx = None
    if pq_books is not None:
        books_np = [np.array(b, dtype=np.float64) for b in pq_books]
        dsub = books_np[0].shape[1]
        dot_luts = [
            books_np[s] @ qm[:, s * dsub : (s + 1) * dsub].T  # k×Q
            for s in range(len(books_np))
        ]
        norm2_luts = [(b * b).sum(axis=1) for b in books_np]  # k
        if pq_residual_cents is not None:
            # residual ADC: x̂ = c_cell + decode(code), so per probed cell
            #   dot(q, x̂)  = q·c_cell            + Σ_s dot_lut
            #   ‖x̂‖²       = ‖c_cell‖² + 2·Σ_s (c_cell,s·cw_s,code) + Σ_s ‖cw‖²
            # — three small tables (cells×Q, cells, cells×m×k ≲ 8 MB at
            # 256×32×128) built once driver-side; the kernel stays pure
            # gathers.  Row +1 is the all-zero sentinel (unprobed cells
            # mask out, but their gathers must not crash or go NaN).
            m_sub = len(books_np)
            Cc = np.zeros((len(cells_sorted) + 1, qm.shape[1]), dtype=np.float64)
            for c in cells_sorted:
                Cc[cell_pos[c]] = pq_residual_cents[c]
            qc_dot = Cc @ qm.T  # (cells+1)×Q
            cnorm2 = (Cc * Cc).sum(axis=1)  # cells+1
            cross = np.stack(
                [
                    Cc[:, s * dsub : (s + 1) * dsub] @ books_np[s].T
                    for s in range(m_sub)
                ],
                axis=1,
            )  # (cells+1)×m×k
            s_idx = np.arange(m_sub)[None, :]
    slack = 10.0 ** (-round_to) if round_to is not None else 0.0
    # self-pairs are filtered AFTER this cut (JVM-side); reserve one extra
    # rank so a self-pair inside the top-k cannot displace a real winner
    kth = k + (1 if exclude_self else 0)
    src = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v"),
        *(["centroid"] if cells else []),
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf["__v"].notna()]
            if not len(pdf):
                continue
            if cells:
                cellrows = np.array(
                    [cell_pos.get(c, -1) for c in pdf["centroid"].to_numpy()]
                )
            if dot_luts is not None:
                codes = np.array(pdf["__v"].tolist(), dtype=np.int64)
                dot = dot_luts[0][codes[:, 0], :].copy()  # B×Q
                n2 = norm2_luts[0][codes[:, 0]].copy()  # B
                for s in range(1, len(dot_luts)):
                    dot += dot_luts[s][codes[:, s], :]
                    n2 += norm2_luts[s][codes[:, s]]
                if cross is not None:  # residual layout: add centroid terms
                    dot += qc_dot[cellrows, :]
                    n2 += cnorm2[cellrows] + 2.0 * cross[
                        cellrows[:, None], s_idx, codes
                    ].sum(axis=1)
                # a zero-norm reconstruction must score NaN (unscoreable,
                # the expression face's try_divide NULL), not dot/0=inf;
                # float cancellation in the residual sum can also land
                # epsilon-negative, which sqrt maps to NaN on its own
                n2[n2 <= 0.0] = np.nan
                sims = dot / np.outer(np.sqrt(n2), qnorm)  # B×Q
            else:
                cm = np.array(pdf["__v"].tolist(), dtype=np.float64)
                cnorm = np.linalg.norm(cm, axis=1)
                sims = (cm @ qm.T) / np.outer(cnorm, qnorm)  # B×Q
            # zero-norm rows/queries score NaN: exclude them from BOTH
            # the cut and the emission (np.sort ranks NaN largest, so
            # an unguarded cut would be NaN and drop every real
            # neighbor in the batch)
            valid = ~np.isnan(sims)
            if cells:
                valid &= allow[cellrows, :]  # -1 hits the sentinel row
            if threshold is not None:
                keep_rows = valid & (sims >= (threshold - slack))
            else:
                b = len(pdf)
                if b > kth:
                    masked = np.where(valid, sims, -np.inf)
                    cut = np.sort(masked, axis=0)[b - kth, :]
                    keep_rows = valid & (sims >= (cut - slack))
                else:
                    keep_rows = valid
            rows, cols = np.nonzero(keep_rows)
            out = {
                "query_id": qids[cols],
                "neighbor_id": pdf["neighbor_id"].to_numpy()[rows],
            }
            if cells:
                out["centroid"] = pdf["centroid"].to_numpy()[rows]
            out["cosine"] = sims[rows, cols]
            yield pd.DataFrame(out)

    scored = src.mapInPandas(run, out_schema)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    return _rank_topk(scored, k, round_to, *keep, threshold=threshold)


def _assign_nearest(
    df: DataFrame, cents, vec_col: str, out_col: str = "centroid"
) -> DataFrame:
    """Nearest-centroid assignment (squared Euclidean), map-side only:
    the k×d centroid matrix ships in the UDF closure and each Arrow
    batch is one BLAS matmul + argmin — no shuffle, no per-row Python.
    ``cents`` is a k×d float64 ndarray; ties break to the lowest index
    (numpy argmin), deterministically."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
    c_sq = (C * C).sum(axis=1)  # k

    def _nearest(v):  # pd.Series -> pd.Series; no hints: module-level
        # `from __future__ import annotations` stringifies them, which
        # pandas_udf's hint inference can't resolve (same as b18)
        X = np.array(v.tolist(), dtype=np.float64)  # B×d
        # ||x-c||^2 = ||x||^2 - 2 x·c + ||c||^2 ; ||x||^2 is constant per
        # row so argmin needs only the last two terms
        d2 = c_sq[None, :] - 2.0 * (X @ C.T)  # B×k
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    nearest = pandas_udf(_nearest, returnType="int")

    return df.withColumn(out_col, nearest(F.col(vec_col)))


def kmeans_fit(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list, DataFrame, list]:
    """Distributed Lloyd's k-means over an embedding column — the
    clustering primitive under corpus diversity sampling, cluster-
    balanced mixtures, and IVF centroid refinement.  Returns
    ``(centroids, assigned, inertia_history)``: the k×d centroid list,
    the corpus with a ``centroid`` column (final assignment), and the
    within-cluster sum of squares after each update (non-increasing —
    Lloyd's invariant, pinned by tests).

    Spark-first decomposition, per iteration:

    * **assign** — :func:`_assign_nearest`: one BLAS matmul + argmin per
      Arrow batch, map-side only (the k×d matrix travels in the UDF
      closure; nothing shuffles).
    * **update** — per-dimension ``avg(element_at(vec, j))`` in ONE
      codegen HashAggregate: map-side partials reduce each partition to
      k×(d+1) numbers, so the per-iteration shuffle is k×d doubles —
      independent of corpus size.  (The HOF/``posexplode`` alternatives
      shuffle O(n·d) rows; rejected for the same reason the text stack
      avoids interpreted HOF folds.)
    * **inertia** — free from the same aggregate: Σ‖x‖² (computed once)
      minus Σ_c n_c·‖mean_c‖², exact for post-update centroids.

    Initialization is the deterministic hash-ordered sample used by
    :func:`ivf_assign` (reshard-stable, no RNG).  Empty clusters keep
    their previous centroid.  Driver memory holds k×d floats only;
    iterations scan the corpus ``iters+1`` times — persist the input
    for small corpora, or accept the scans at 100 TB where caching is
    the thing that doesn't fit.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got k={k}, iters={iters}")
    import numpy as np

    d = len(
        corpus.select(vec_col).filter(F.col(vec_col).isNotNull()).first()[0]
    )
    init_rows = (
        corpus.select(vec_col).orderBy(F.xxhash64(id_col)).limit(k).collect()
    )
    C = np.array([list(r[0]) for r in init_rows], dtype=np.float64)  # k×d
    elems = [
        F.element_at(F.col(vec_col), j + 1).cast("double") for j in range(d)
    ]
    # Σ‖x‖² once — constant across iterations, closes the inertia identity
    sum_sq = corpus.select(
        F.sum(sum(e * e for e in elems)).alias("s")
    ).collect()[0]["s"]

    history: list[float] = []
    assigned = _assign_nearest(corpus, C, vec_col)
    for _ in range(iters):
        stats = (
            assigned.groupBy("centroid")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.avg(e).alias(f"__m{j}") for j, e in enumerate(elems)],
            )
            .collect()
        )
        newC = C.copy()  # empty cluster → keep previous centroid
        n_by_c = np.zeros(len(C))
        for r in stats:
            c = r["centroid"]
            newC[c] = [r[f"__m{j}"] for j in range(d)]
            n_by_c[c] = r["__n"]
        C = newC
        # inertia w.r.t. the POST-update means of the current assignment:
        # Σ‖x‖² − Σ_c n_c‖mean_c‖² (König–Huygens), exact, no extra pass
        history.append(float(sum_sq - (n_by_c * (C * C).sum(axis=1)).sum()))
        assigned = _assign_nearest(corpus, C, vec_col)
    return [list(map(float, row)) for row in C], assigned, history


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "emb_q",
    scale_col: str = "emb_scale",
    keep_vec: bool = False,
) -> DataFrame:
    """Scalar int8 quantization (SQ8) of an embedding column — the
    storage/scan shape ANN runs at corpus scale: each float32/64 vector
    becomes ``array<tinyint>`` plus one per-vector float scale, a 4–8×
    smaller column whose parquet scan cost shrinks proportionally.

    Per-vector symmetric max-abs scaling: ``q_j = round(x_j·127/s)``
    with ``s = max|x_j|`` (so every component lands in [−127, 127] and
    the reconstruction ``x̂_j = q_j·s/127`` has per-component error
    ≤ s/254).  The scale rides WITH the vector, so quantization is
    map-side only — no corpus pass to fit a codebook, no shuffle, and
    re-sharding cannot change any vector's encoding.  Zero vectors get
    scale 1.0 (all-zero codes); a NULL vector gets NULL codes and a
    NULL scale.  Arrow-batched numpy, one batch = one
    vectorized round.

    ``keep_vec=False`` (default) drops the float column — the point of
    the exercise at 100 TB; pass True for side-by-side recall tests.
    Search with :func:`cosine_topk_quantized`; recall vs the exact path
    is pinned in tests (cosine ordering is scale-invariant, so SQ8
    cosine error is bounded by the per-component bound above).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    out_t = T.StructType(
        [
            T.StructField("q", T.ArrayType(T.ByteType())),
            T.StructField("s", T.FloatType()),
        ]
    )

    def _quant(v):  # pd.Series -> pd.DataFrame; hints stringified by
        # `from __future__ import annotations`, so none (same as b18)
        mask = v.notna().to_numpy()  # a NULL vector encodes to NULLs
        q = pd.Series([None] * len(v), dtype=object)
        s = np.full(len(v), np.nan, dtype=np.float32)
        if mask.any():
            X = np.array(v[mask].tolist(), dtype=np.float64)  # B×d
            sx = np.abs(X).max(axis=1)  # B
            sx[sx == 0.0] = 1.0
            q[np.flatnonzero(mask)] = list(np.rint(X * (127.0 / sx)[:, None]).astype(np.int8))
            s[mask] = sx
        return pd.DataFrame({"q": q, "s": s})

    quant = pandas_udf(_quant, returnType=out_t)
    out = df.withColumn("__qs", quant(F.col(vec_col))).withColumn(
        q_col, F.col("__qs.q")
    ).withColumn(scale_col, F.col("__qs.s")).drop("__qs")
    return out if keep_vec else out.drop(vec_col)


def cosine_topk_quantized(
    corpus_q: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "emb_q",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k over an SQ8-quantized corpus
    (:func:`quantize_embeddings`) — the same :func:`_blas_topk` kernel
    and plan as :func:`cosine_topk`, scored directly on the
    int8 CODES: cosine is scale-invariant, so the per-vector scales
    cancel exactly and ``cos(x̂, ŷ) = (qₓ·q_y)/(‖qₓ‖‖q_y‖)`` — the
    reconstruction never happens and the scale column is never read
    (it exists for L2/reconstruction consumers).  The matmul
    accumulates integer values in float64, which is exact for int8
    products, so the score is bit-deterministic across partitionings.

    ``queries`` arrive as FLOAT vectors (``vec_col``) and are quantized
    with the same encoder driver-side, so index and probe share one
    contract.  Approximate only through quantization (per-component
    error ≤ s/254); recall@k vs the exact float path is pinned in
    tests.  Returned ``cosine`` is the quantized estimate.
    """
    import numpy as np

    q = _collect_queries(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    )
    codes = {}
    for qid, vec in q.vecs.items():
        v = np.array(vec, dtype=np.float64)
        # quantize_embeddings' encoder: a zero vector keeps scale 1.0
        codes[qid] = np.rint(v * (127.0 / (np.abs(v).max() or 1.0)))  # float64-exact
    return _blas_topk(corpus_q, q._replace(vecs=codes), k, id_col, q_col, round_to)


def ivf_append_index(
    new_batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incrementally grow a persisted :func:`ivf_write_index` index —
    the ANN twin of the dedup family's incremental signature index
    (d07): assign ONLY the new batch against the index's FROZEN
    centroid sidecar (the build's cell rule,
    :func:`_assign_cosine_argmax_blas`) and append it into the centroid-partitioned
    layout.  The existing corpus is never rescanned and never shuffles —
    per-append cost is O(new batch), which is the property that keeps a
    daily-embedding pipeline's index maintainable at 100 TB.  New
    vectors are immediately visible to :func:`ivf_probe_index`,
    including the ``n_probe = n_centroids`` exact-equality bound.

    The layout is self-describing: if the index was built with
    ``quantize=True`` the batch is SQ8-encoded with the same encoder
    before landing, so one index never mixes float and code rows; a
    ``vec_col`` that matches neither the float nor the SQ8 layout
    raises.  Frozen centroids mean cell balance can drift as the
    corpus drifts — monitor with a per-partition count and REBUILD (not
    append) when a cell outgrows its siblings; the same drift trade
    every IVF system makes."""
    layout = _read_ivf_layout(new_batch.sparkSession, path, vec_col)
    _write_ivf_segment(new_batch, path, vec_col, layout, "append")
    return {"n_centroids": len(layout.cents), "path": path, "appended": True}


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Health/drift monitor for a persisted IVF index — one row per
    centroid cell with its vector count and share of the corpus, plus
    a ``balance`` column (cell share × n_centroids; 1.0 = perfectly
    even).  The number :func:`ivf_append_index`'s frozen-centroid trade
    says to watch: a cell whose balance grows far past its siblings
    means the corpus drifted away from the build-time sample and probe
    cost is concentrating — rebuild rather than keep appending.  One
    aggregation over the index's partition column (pure metadata-shaped
    scan: only ``centroid`` is read, so column pruning keeps it cheap
    even on a quantized multi-TB index)."""
    vecs = spark.read.parquet(f"{path}/vectors").select("centroid")
    n_cells = spark.read.parquet(f"{path}/centroids").count()
    total = vecs.count()
    return (
        vecs.groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .withColumn("share", F.col("n_vectors") / F.lit(float(total)))
        .withColumn("balance", F.col("share") * F.lit(float(n_cells)))
        .orderBy("centroid")
    )


def semantic_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random centroid sample for
    :func:`semantic_dedup_pairs`: the ``n_centroids`` vectors with the
    smallest ``md5(id-as-string)``.  md5 is engine-portable, so an
    external SQL twin can pick the IDENTICAL set (unlike
    ``ivf_assign``'s xxhash64 sample), and the choice is stable across
    partitioning and resharding.  Driver-collects ``n_centroids`` rows
    only — centroid counts are small by contract (they broadcast into
    every assignment expression)."""
    rows = (
        corpus.select(F.col(vec_col), F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(rows)]


def _norm_centroids(cents: list) -> list[tuple[int, list[float]]]:
    """Accept both centroid shapes — the (index, vector) pairs the md5
    sample produces AND the bare k×d vector list :func:`kmeans_fit`
    returns — so k-means centroids drop straight into the semantic
    dedup faces."""
    import numbers

    out = []
    for i, c in enumerate(cents):
        if (
            isinstance(c, (tuple, list)) and len(c) == 2
            and not isinstance(c[0], bool)
            and isinstance(c[0], numbers.Integral)  # incl. numpy ints
            and hasattr(c[1], "__iter__")
        ):
            out.append((int(c[0]), [float(x) for x in c[1]]))
        else:
            out.append((i, [float(x) for x in c]))
    return out


def _assign_cosine_argmax(
    df: DataFrame,
    cents: list,
    vec_col: str,
    round_to: int,
    out_col: str = "cluster",
    score_col: str | None = None,
) -> Column | DataFrame:
    """Full-cosine argmax assignment against a fixed centroid list,
    ROUNDED before the argmax so an external engine computing the same
    rounded scores picks the same cell; ties break to the lowest
    centroid index (``array_position`` returns the first maximum).
    Distinct from the IVF cell rule (:func:`_assign_cosine_argmax_blas`),
    which is unrounded and never needs cross-engine determinism.  Map-side
    codegen: the centroid matrix is a literal array, no shuffle.
    Emits the CALLER-SUPPLIED cell id (argmax position mapped through
    an id lookup array — round-8 review fix: previously positions,
    which silently disagreed with the BLAS twin on gapped ids)."""
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in vec]) for _, vec in cents])
    id_arr = F.array(*[F.lit(int(i)) for i, _ in cents])
    v = F.col(vec_col).cast("array<double>")
    scores = F.transform(
        cent_arr, lambda cv: F.round(_dot(v, cv) / (_norm(v) * _norm(cv)), round_to)
    )
    best_pos = F.array_position(scores, F.array_max(scores)).cast("int")
    # null embedding -> null assignment (round-9: a null vector belongs
    # to NO cell; the raw argmax chain otherwise lands it in an
    # arbitrary one via null/NaN score comparison quirks, diverging
    # from the blas face which also emits null)
    assigned = F.when(
        F.col(vec_col).isNotNull(), F.element_at(id_arr, best_pos).cast("int")
    )
    out = df.withColumn(out_col, assigned)
    if score_col is not None:
        # the max score IS the cosine to the assigned centroid — the
        # prototypicality metric, free from the same scores array
        # (null-gated like the assignment)
        out = out.withColumn(
            score_col, F.when(F.col(vec_col).isNotNull(), F.array_max(scores))
        )
    return out


def _assign_cosine_argmax_blas(
    df: DataFrame, cents: list, vec_col: str, out_col: str = "cluster"
) -> DataFrame:
    """The IVF cell rule (:func:`_unit_cents`), and the BLAS twin of
    :func:`_assign_cosine_argmax` for SemDeDup's production cell counts:
    the expression face evaluates k interpreted HOF dot products PER
    ROW, which is fine at the 8-cell oracle scale and dominates
    wall-clock at SemDeDup's √n-scaled counts (measured at sf1/141
    cells: 35 s expression vs ~2 s BLAS for the identical assignment).
    One (batch × k) matmul + argmax per Arrow batch, the k×d matrix
    ships in the closure — map-side, no shuffle, same lowest-index
    tie-break (np.argmax); a NULL vector gets a NULL cell.  UNROUNDED
    scores: no external engine replays this rule, so a score exactly
    at a rounding boundary may pick a different — equally valid — cell
    than the oracle face; identical vectors still always share a cell,
    which is the dedup invariant that matters.  The assigned cell id is
    the CALLER-SUPPLIED id from ``cents``."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    ids, _, Cn = _unit_cents(cents)

    def _assign(v):  # pd.Series -> pd.Series; no hints (see b18 note)
        # Null embeddings get a NULL assignment, matching the expression
        # face (round-8 advice: an object array from None entries would
        # otherwise crash the matmul — a task failure where the other
        # face silently skips the row).
        vals = v.tolist()
        ok = np.flatnonzero(np.array([x is not None for x in vals]))
        out = pd.Series([None] * len(vals), dtype="Int32")
        if len(ok):
            X = np.array([vals[i] for i in ok], dtype=np.float64)
            # row norm is constant across cells -> argmax of X @ Cn.T
            out.iloc[ok] = ids[(X @ Cn.T).argmax(axis=1)]
        return out

    assign = pandas_udf(_assign, returnType="int")
    return df.withColumn(out_col, assign(F.col(vec_col)))


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    threshold: float = 0.99,
    round_to: int = 6,
    centroids: list | None = None,
    vectorized: bool = False,
    assign: str = "expression",
) -> DataFrame:
    """B23/B24 — SemDeDup-style semantic near-dup pairs (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): partition the embedding space into
    ``n_centroids`` cells, then compare vectors ONLY within their cell.

    NOTE: when ``centroids`` is None this EAGERLY runs a small Spark
    job during plan construction (:func:`semantic_centroids` collects
    ``n_centroids`` rows — the simhash-auto-probe discipline: say so up
    front).  Pass a precomputed ``centroids`` list (e.g. from
    :func:`kmeans_fit`) to keep construction lazy and to reuse one
    centroid set across batches.

    This is the cluster trick that makes embedding dedup subquadratic:
    the all-pairs cost O(n²) drops to Σ|cell|², and the per-cell join is
    an equi-join on ``cluster`` — one corpus shuffle on the cell id, no
    cross-cell pairs ever materialize.  At 100 TB you scale
    ``n_centroids`` with the corpus (SemDeDup uses ~10⁴–10⁵ cells for
    web-scale corpora, keeping cells at ~10³–10⁴ vectors) and feed
    k-means centroids (:func:`kmeans_fit`) instead of the sampled ones;
    the deterministic md5 sample here is the oracle-checkable face of
    the same plan.

    The designed trade (inherited from the paper): a near-dup pair
    SPLIT across two cells is missed.  Recall is governed by cell
    granularity; exact duplicates always collide (identical vectors get
    identical argmax).

    Returns ``(id_a, id_b, cluster, cosine)`` with ``id_a < id_b`` and
    rounded cosine ≥ threshold.

    ``vectorized=True`` scores each cell with blocked BLAS matmuls
    inside ``applyInPandas`` (:func:`_cell_pairs_vectorized`) instead
    of the per-pair expression cosine — same row multiset (tested
    equal), ~the cosine_topk vectorized/expression twin discipline;
    use it when cells are 10³+ vectors.  The expression path stays the
    default because it is the cross-engine oracle face (JVM-side
    HALF_UP rounding, no Python workers).

    ``assign="blas"`` swaps the ASSIGNMENT to the Arrow-batched matmul
    twin (:func:`_assign_cosine_argmax_blas`) — required at production
    cell counts, where the expression face's k-per-row interpreted HOF
    dots dominate (35 s vs ~2 s at sf1/141 cells, GROWTH_r08.json).
    Unrounded scores: boundary vectors may land in a different (equally
    valid) cell than the oracle face, so keep ``"expression"`` wherever
    a DuckDB twin replays the assignment.
    """
    if assign not in ("expression", "blas"):
        raise ValueError(f"assign must be 'expression' or 'blas', got {assign!r}")
    if centroids is None and n_centroids < 1:
        raise ValueError(f"need n_centroids >= 1, got {n_centroids}")
    cents = centroids if centroids is not None else semantic_centroids(
        corpus, n_centroids, id_col, vec_col
    )
    if not cents:
        raise ValueError("no centroids: corpus is empty (or an empty list was passed)")
    cents = _norm_centroids(cents)
    if assign == "blas":
        assigned = _assign_cosine_argmax_blas(corpus, cents, vec_col)
    else:
        assigned = _assign_cosine_argmax(corpus, cents, vec_col, round_to)
    if vectorized:
        return _cell_pairs_vectorized(assigned, id_col, vec_col, threshold, round_to)
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "cluster"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "cluster"
    )
    pairs = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine_sim(F.col("__va"), F.col("__vb")), round_to)
    return (
        pairs.select("id_a", "id_b", "cluster", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    threshold: float = 0.99,
    round_to: int = 6,
    centroids: list | None = None,
    vectorized: bool = False,
    assign: str = "expression",
) -> DataFrame:
    """Keep-one-per-neighborhood face of :func:`semantic_dedup_pairs`:
    a vector is dropped iff some LOWER-id vector in its cell is within
    ``threshold`` — the single-pass keep-lowest rule (deterministic, no
    iterative closure), matching the winner-pick discipline of
    ``dedup.exact_dedup``.  Returns the surviving rows of ``corpus``.
    ``vectorized``/``assign`` forward to the pair finder (round-8
    review fix: the production fast paths were unreachable from the
    keep-one face)."""
    pairs = semantic_dedup_pairs(
        corpus, id_col, vec_col, n_centroids, threshold, round_to, centroids,
        vectorized=vectorized, assign=assign,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(dropped, id_col, "left_anti")


def pca_fit(
    corpus: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
) -> dict:
    """Distributed PCA over an embedding column — the dimension-
    reduction step before ANN/clustering when the raw embedding is
    wider than the signal (complements :func:`quantize_embeddings`:
    SQ8 shrinks bytes per dimension, PCA shrinks dimensions).

    EAGER (runs the corpus scan now).  One-pass moment aggregation:
    each Arrow batch reduces to ``(n, Σx, XᵀX)`` inside ``mapInPandas``
    (float64 BLAS, map-side only — the shuffle-free discipline of
    :func:`kmeans_fit`), the per-batch rows (d²+d+1 numbers each)
    collapse on the driver, and the d×d covariance eigendecomposition
    is a driver-side ``numpy.linalg.eigh`` — d is small by contract
    (embeddings are 64–4096 wide), the corpus never shuffles and is
    scanned exactly ONCE.

    Determinism: eigh on a fixed covariance is deterministic; each
    component's sign is canonicalized (coordinate of largest magnitude
    made positive — lowest index on ties) so refits agree.  Float
    summation order across batches varies with partitioning, which
    perturbs components at ~1e-12 relative — tests pin tolerance-equal,
    not bit-equal, across repartitions.

    Returns ``{"mean": [d], "components": [k][d] (rows = top
    eigenvectors, descending eigenvalue), "explained_variance": [k]}``.
    """
    import numpy as np

    head = corpus.select(vec_col).first()
    if head is None:
        raise ValueError("need >= 2 vectors to fit PCA, got 0")
    first = [float(x) for x in head[0]]
    d = len(first)
    if not 1 <= k <= d:
        raise ValueError(f"need 1 <= k <= dim, got k={k}, dim={d}")

    moment_schema = (
        "n long, s array<double>, xtx array<double>"
    )
    # shift by a first-row estimate before accumulating moments: the
    # naive XᵀX − mean·Σx form cancels catastrophically when the mean
    # offset dwarfs the spread (‖mean‖ ≫ std loses ~2·log10(‖mean‖/std)
    # significant digits); shifted moments make the subtraction
    # well-conditioned at identical cost
    shift = np.asarray(first, dtype=np.float64)

    def _moments(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            x = _np.asarray(list(pdf.iloc[:, 0]), dtype=_np.float64)
            if x.size == 0:
                continue
            x = x - shift
            yield _pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "xtx": [(x.T @ x).ravel().tolist()],
                }
            )

    parts = corpus.select(vec_col).mapInPandas(_moments, moment_schema).toPandas()
    n = int(parts["n"].sum())
    if n < 2:
        raise ValueError(f"need >= 2 vectors to fit PCA, got {n}")
    s = np.sum([np.asarray(v) for v in parts["s"]], axis=0)
    xtx = np.sum([np.asarray(v).reshape(d, d) for v in parts["xtx"]], axis=0)
    mean_c = s / n
    mean = shift + mean_c
    cov = (xtx - np.outer(mean_c, s)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    # sign convention: largest-|coordinate| entry positive (first on ties)
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": evals[order].tolist(),
    }


def pca_transform(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
    round_to: int | None = None,
) -> Column | DataFrame:
    """Project onto fitted components: adds ``out_col`` =
    array<double>[k].  The mean and the k×d component matrix ride the
    plan as literal arrays, so the projection is pure map-side codegen
    (``zip_with``/``aggregate`` dot products) — no Python workers, no
    shuffle, and the plan composes with downstream pruning."""
    mean_lit = F.array(*[F.lit(float(m)) for m in model["mean"]])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean_lit, lambda x, m: x - m
    )
    comp_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in model["components"]]
    )
    proj = F.transform(comp_lit, lambda c: _dot(centered, c))
    if round_to is not None:
        proj = F.transform(proj, lambda v: F.round(v, round_to))
    return df.withColumn(out_col, proj)


def _cell_pairs_vectorized(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_to: int,
    block_rows: int = 2048,
) -> DataFrame:
    """Per-cell pairwise scoring as BLAS: ``applyInPandas`` groups by
    the cell id, each cell scores its upper triangle in row-blocks of
    ``block_rows`` (one (block × |cell|) matmul per step, so worker
    memory is bounded by block_rows × |cell| doubles, not |cell|²).
    Same row multiset as the expression path (tested equal); this is
    the face that scales when cells are 10³–10⁴ vectors."""
    from pyspark.sql import types as T

    id_type = assigned.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    empty = {"id_a": [], "id_b": [], "cluster": [], "cosine": []}

    def score(key, pdf):
        import numpy as np
        import pandas as pd

        b = len(pdf)
        if b < 2:
            return pd.DataFrame(empty)
        ids = pdf[id_col].to_numpy()
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1)
        # F.round is BigDecimal HALF_UP over the double's SHORTEST
        # DECIMAL repr (Double.toString), which binary floor(+0.5) math
        # cannot reproduce on values like the-double-nearest-0.1234565
        # (binary sees ...64999…9, decimal repr says …65).  So: a
        # binary PRE-CUT with half-an-ulp-of-the-quantum slack keeps
        # every possible boundary case, then the few survivors get the
        # EXACT decimal rounding (Decimal(repr(x)) == BigDecimal
        # .valueOf(x): both parse the shortest round-trip repr).
        import decimal

        scale = 10.0 ** round_to
        q = decimal.Decimal(1).scaleb(-round_to)

        def dec_round(v):
            return float(
                decimal.Decimal(repr(float(v))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            )

        parts = []
        for lo in range(0, b, block_rows):
            hi = min(lo + block_rows, b)
            sims = (x[lo:hi] @ x.T) / np.outer(norms[lo:hi], norms)
            rows, cols = np.nonzero(sims >= threshold - 0.5 / scale)
            keep = (rows + lo) < cols  # upper triangle only, no self
            rows, cols = rows[keep], cols[keep]
            if not len(rows):
                continue
            rounded = np.array([dec_round(v) for v in sims[rows, cols]])
            keep = rounded >= threshold
            rows, cols, rounded = rows[keep], cols[keep], rounded[keep]
            if not len(rows):
                continue
            ia, ib = ids[rows + lo], ids[cols]
            swap = ia > ib
            parts.append(
                pd.DataFrame(
                    {
                        "id_a": np.where(swap, ib, ia),
                        "id_b": np.where(swap, ia, ib),
                        "cluster": np.full(len(rows), key[0], dtype=np.int32),
                        "cosine": rounded,
                    }
                )
            )
        return pd.concat(parts) if parts else pd.DataFrame(empty)

    return assigned.groupBy("cluster").applyInPandas(score, out_schema)


def prototype_scores(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    round_to: int = 6,
    centroids: list | None = None,
) -> DataFrame:
    """Per-vector PROTOTYPICALITY score — the data-pruning metric of
    Sorscher et al. 2022 ("Beyond neural scaling laws: beating power
    law scaling via data pruning"): cosine similarity to the vector's
    OWN cluster centroid.  High score = prototypical/redundant (the
    cluster has many like it); low score = informative/outlier.  The
    score is simply the argmax the cell assignment already computed
    (``array_max`` over the per-centroid score array — zero extra
    work), rounded like everything the oracle checks.

    EAGER when ``centroids`` is None (md5 sample — the
    :func:`semantic_centroids` note applies); feed :func:`kmeans_fit`
    centroids in production.  Returns the corpus plus ``cluster`` and
    ``proto_cos`` columns; map-side only, no shuffle."""
    if centroids is None and n_centroids < 1:
        raise ValueError(f"need n_centroids >= 1, got {n_centroids}")
    cents = centroids if centroids is not None else semantic_centroids(
        corpus, n_centroids, id_col, vec_col
    )
    if not cents:
        raise ValueError("no centroids: corpus is empty (or an empty list was passed)")
    cents = _norm_centroids(cents)
    # ONE copy of the determinism-critical scoring expression: the
    # assignment helper emits the argmax cell AND its max score
    return _assign_cosine_argmax(
        corpus, cents, vec_col, round_to, out_col="cluster", score_col="proto_cos"
    )


def prune_prototypes(
    corpus: DataFrame,
    frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    round_to: int = 6,
    centroids: list | None = None,
    keep: str = "hard",
) -> DataFrame:
    """Cluster-aware data pruning (Sorscher et al. 2022): drop the
    ``frac`` most PROTOTYPICAL vectors of each cluster (``keep="hard"``
    — the paper's rule for large data: easy/redundant examples teach
    least) or the frac least prototypical (``keep="easy"`` — the
    small-data regime, where outliers are noise).

    One shuffle on the cluster id (the window), everything else
    map-side.  Deterministic: ranks order by (rounded score, id), and
    per-cluster drop counts use ``ceil(frac·n)`` — so an external SQL
    twin reproduces the exact kept set.  Returns surviving rows with
    the ``cluster``/``proto_cos`` diagnostics attached."""
    if not 0.0 <= frac < 1.0:
        raise ValueError(f"need 0 <= frac < 1, got {frac}")
    if keep not in ("hard", "easy"):
        raise ValueError(f'keep must be "hard" or "easy", got {keep!r}')
    scored = prototype_scores(
        corpus, id_col, vec_col, n_centroids, round_to, centroids
    )
    order = (
        [F.col("proto_cos").desc(), F.col(id_col).asc()]
        if keep == "hard"  # drop the TOP of the prototypicality order
        else [F.col("proto_cos").asc(), F.col(id_col).asc()]
    )
    w = Window.partitionBy("cluster").orderBy(*order)
    wc = Window.partitionBy("cluster")
    ranked = scored.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(wc)
    )
    return ranked.filter(
        F.col("__rn") > F.ceil(F.col("__n") * F.lit(frac))
    ).drop("__rn", "__n")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training: for each
    query, the top-k most cosine-similar corpus vectors with a
    DIFFERENT label — the negatives that actually move a retriever
    (random negatives are trivially separable; the hard ones sit next
    to the decision boundary).  NULL labels never pair with anything
    (unknown class can't be certified a negative — null-safe inequality
    keeps them out on either side).

    Same plan discipline as :func:`cosine_topk` (the corpus never
    shuffles; the query set is small by contract): scored by the
    codegen expression twin with the label test fused BEFORE the
    window, so the per-query rank only sees cross-label rows.  Returns
    ``(query_id, neighbor_id, neighbor_label, cosine, rank)``."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlab"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("__qlab").isNotNull()
        & F.col("neighbor_label").isNotNull()
        & (F.col("neighbor_label") != F.col("__qlab"))
    )
    scored = joined.withColumn("cosine", cosine_sim(F.col("__qvec"), F.col("__cvec")))
    return _rank_topk(scored, k, round_to, "neighbor_label")


# -- product quantization (PQ) ANN -------------------------------------
#
# The lossy-compression member of the ANN family (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search"): split each d-dim
# vector into m disjoint subvectors, quantize each against its own
# k-codeword codebook, and search with asymmetric distance computation
# (ADC) — queries stay float, the corpus is m small integers per vector
# (m bytes at k ≤ 256 vs 4d bytes float32: 32× smaller than SQ8's d
# bytes for m = d/8).  At 100 TB this is the difference between an index
# that fits in cluster page cache and one that doesn't.  Composes with
# IVF the same way quantize_embeddings does (ivf_write_index stores
# whatever columns ride the frame).


def pq_fit(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "sample",
    train_n: int = 4096,
    kmeans_iters: int = 10,
) -> list[list[list[float]]]:
    """Fit PQ codebooks: ``n_subspaces`` × ``n_codes`` × (d/m) floats.

    ``method="sample"`` — the cross-engine-deterministic face (the
    :func:`semantic_centroids` rule): the ``n_codes`` vectors with the
    smallest ``md5(id-as-string)``, sliced; codeword j of EVERY subspace
    comes from sampled vector j, so an external SQL engine can rebuild
    the identical codebooks (the s09 oracle does).  ``method="kmeans"``
    — the production face: per-subspace Lloyd's on an md5-deterministic
    sample of ``train_n`` vectors (codebooks are always trained on a
    bounded sample — the FAISS convention — so the collect is bounded by
    contract and the result is still reshard-stable/deterministic:
    md5 order fixes both the sample and the init).

    Driver returns plain nested lists — they broadcast into encode /
    search expressions as literals, same as every centroid face here."""
    # argument-only checks FIRST — no Spark job runs for a bad call
    # (review: method typos used to surface only after the sample job)
    if method not in ("sample", "kmeans"):
        raise ValueError(f"unknown method {method!r}")
    if not 1 <= n_codes <= 128:
        # codes are array<tinyint> (signed byte, max 127); 128 codewords
        # use codes 0..127 exactly — the standard nbits=7 PQ budget here
        raise ValueError("n_codes must be in [1, 128] (codes are tinyint)")
    take = n_codes if method == "sample" else max(train_n, n_codes)
    # null discipline matches pq_encode/pq_topk: a NULL vector in the
    # md5-ordered sample would crash len()/np.array with an opaque
    # TypeError, so exclude it from training up front
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col), F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(take)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(f"corpus has {len(rows)} rows < n_codes {n_codes}")
    # dimension from the sample already in hand — not a separate first()
    d = len(rows[0][vec_col])
    if d % n_subspaces != 0:
        raise ValueError(f"dim {d} not divisible by n_subspaces {n_subspaces}")
    dsub = d // n_subspaces
    import numpy as np

    X = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    if method == "sample":
        return [
            [[float(x) for x in X[j, s * dsub : (s + 1) * dsub]] for j in range(n_codes)]
            for s in range(n_subspaces)
        ]
    return _fit_books_numpy(X, n_subspaces, n_codes, kmeans_iters)


def _fit_books_numpy(X, n_subspaces: int, n_codes: int, kmeans_iters: int) -> list:
    """Per-subspace Lloyd's on an in-memory training matrix — the exact
    arithmetic :func:`pq_fit`'s ``method="kmeans"`` face has always run
    (extracted in round 12 so :func:`pq_suggest_m` trains candidate
    codebooks on the same sample without re-stating the loop)."""
    import numpy as np

    dsub = X.shape[1] // n_subspaces
    books = []
    for s in range(n_subspaces):
        S = X[:, s * dsub : (s + 1) * dsub]
        C = S[:n_codes].copy()
        for _ in range(kmeans_iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(n_codes):
                mask = assign == j
                if mask.any():
                    C[j] = S[mask].mean(axis=0)
        books.append([[float(x) for x in C[j]] for j in range(n_codes)])
    return books


def pq_suggest_m(
    corpus: DataFrame,
    candidate_ms: tuple = (8, 16, 32, 64),
    k: int = 10,
    n_queries: int = 20,
    train_n: int = 4096,
    n_codes: int = 128,
    kmeans_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual_cents: list | None = None,
    gap_quantile: float = 0.9,
    margin_factor: float = 1.0,
) -> dict:
    """Frontier-driven PQ byte-budget selection (round 12, VERDICT r11
    item 4) — encode the "ADC error vs true rank-gap" decision so users
    don't rediscover it per corpus.

    The round-11 frontier (``IVFPQ_FRONTIER_r11.json``, 2M×64d): a PQ
    code can only rank what its quantization error doesn't drown.  The
    corpus-intrinsic quantity is the exact-cosine gap between the true
    rank-``k`` and rank-``k+1`` neighbors — if the median |ADC error|
    of an ``m``-byte code exceeds that gap, NO implementation of that
    byte budget (FAISS's included) can resolve the near-ties, and
    recall collapses no matter how good the codebooks are (measured:
    m=32 residual err p50 0.0022 vs gap 0.00014 → recall 0.585; m=64
    err p50 0.0002 ≈ the gap → recall 0.88).

    Decision rule (documented, tunable): ``m`` is RATE-DISTORTION
    FEASIBLE iff its median ADC error over the true top-``k`` pairs is
    ≤ ``margin_factor ×`` the ``gap_quantile``-quantile of the rank-gap
    distribution; ``suggested_m`` is the smallest feasible candidate
    (smallest code that can still rank), ``None`` if none — then use
    over-retrieve + exact rerank (the frontier's 8-16× pattern) or a
    bigger budget (SQ8/float).

    Cost contract: ONE distributed exact top-(k+1) search over
    ``corpus`` (the only corpus-sized job — the same BLAS single-scan
    plan as :func:`cosine_topk`); everything else runs driver-side on
    bounded md5-deterministic samples (``train_n`` training rows,
    ``n_queries`` queries, ``n_queries·k`` neighbor vectors — the
    :func:`pq_fit` bounded-collect discipline).  At 100 TB pass a
    sampled-down corpus for the truth scan; the gap estimate needs the
    true neighbor DENSITY, so sample uniformly (never by cluster).

    ``residual_cents``: the ``[(cell_id, [floats]), ...]`` list every
    IVF function shares — candidates are then evaluated as RESIDUAL
    encodings (assign by the index's cosine-argmax rule, subtract,
    fit/encode on residuals, reconstruct ``x̂ = cent + decode(code)``),
    matching ``ivf_write_index(pq=..., pq_residual=True)``.

    Returns a report dict: ``suggested_m``, ``rank_gap`` stats, and
    per-candidate ``{err_p50, err_p90, feasible, code_bytes}``.
    Advisory only — no index state is touched (s09's oracle face and
    hash are unaffected)."""
    import numpy as np

    if not 1 <= n_codes <= 128:
        raise ValueError("n_codes must be in [1, 128] (codes are tinyint)")
    if not candidate_ms:
        raise ValueError("candidate_ms is empty")
    if not 0.0 <= gap_quantile <= 1.0:
        raise ValueError("gap_quantile must be in [0, 1]")

    # deterministic bounded query sample (the pq_fit md5 discipline)
    q_ids = [
        r[id_col]
        for r in corpus.filter(F.col(vec_col).isNotNull())
        .select(id_col, F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(n_queries)
        .collect()
    ]
    queries = corpus.filter(F.col(id_col).isin(q_ids))

    # the one corpus-sized job: exact top-(k+1) — ranks k and k+1 give
    # the margin every candidate must beat, ranks 1..k give the pairs
    # the ADC error is measured on
    truth = cosine_topk(corpus, queries, k=k + 1, id_col=id_col, vec_col=vec_col)
    truth_rows = truth.collect()
    by_q: dict = {}
    for r in truth_rows:
        by_q.setdefault(r["query_id"], {})[r["rank"]] = (r["neighbor_id"], r["cosine"])
    gaps = [
        ranks[k][1] - ranks[k + 1][1]
        for ranks in by_q.values()
        if k in ranks and k + 1 in ranks
    ]
    if not gaps:
        raise ValueError(
            f"corpus too small for k={k}: no query returned {k + 1} neighbors"
        )
    gap_ref = float(np.quantile(gaps, gap_quantile))

    # bounded collects: query vectors, true-neighbor vectors, train rows
    qvec = {
        r[id_col]: np.array(list(r[vec_col]), dtype=np.float64)
        for r in queries.select(id_col, vec_col).collect()
    }
    nbr_ids = list({ranks[rk][0] for ranks in by_q.values() for rk in ranks if rk <= k})
    nvec = {
        r[id_col]: np.array(list(r[vec_col]), dtype=np.float64)
        for r in corpus.filter(F.col(id_col).isin(nbr_ids))
        .select(id_col, vec_col)
        .collect()
    }
    train_rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col), F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(train_n)
        .collect()
    )
    X = np.array([list(r[vec_col]) for r in train_rows], dtype=np.float64)
    d = X.shape[1]

    def _residualize_rows(M):
        """The index's cell rule (:func:`_unit_cents`) + subtract."""
        _, C, Cn = _unit_cents(residual_cents)
        cell = (M @ Cn.T).argmax(axis=1)
        return M - C[cell], C[cell]

    if residual_cents is not None:
        X_fit, _ = _residualize_rows(X)
    else:
        X_fit = X
    N = np.array([nvec[i] for i in nbr_ids], dtype=np.float64)
    if residual_cents is not None:
        N_fit, N_cent = _residualize_rows(N)
    else:
        N_fit, N_cent = N, np.zeros_like(N)
    nbr_pos = {i: p for p, i in enumerate(nbr_ids)}

    report: dict = {
        "dim": d,
        "k": k,
        "n_queries": len(qvec),
        "residual": residual_cents is not None,
        "rank_gap": {
            "mean": float(np.mean(gaps)),
            f"p{int(gap_quantile * 100)}": gap_ref,
        },
        "decision_rule": (
            f"feasible iff err_p50 <= {margin_factor} * rank-gap "
            f"p{int(gap_quantile * 100)}"
        ),
        "per_m": {},
    }
    for m in sorted(candidate_ms):
        if d % m != 0:
            report["per_m"][m] = {"skipped": f"dim {d} not divisible by m={m}"}
            continue
        books = [np.array(b) for b in _fit_books_numpy(X_fit, m, n_codes, kmeans_iters)]
        dsub = d // m
        Nhat = np.empty_like(N_fit)
        for s, C in enumerate(books):
            S = N_fit[:, s * dsub : (s + 1) * dsub]
            code = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            Nhat[:, s * dsub : (s + 1) * dsub] = C[code]
        Nhat = Nhat + N_cent  # x̂ = centroid + decode(code) in residual mode
        errs = []
        for q, ranks in by_q.items():
            qv = qvec[q]
            qn = np.linalg.norm(qv) or 1.0
            for rk, (nid, cos_exact) in ranks.items():
                if rk > k or nid not in nbr_pos:
                    continue
                xh = Nhat[nbr_pos[nid]]
                denom = (np.linalg.norm(xh) * qn) or 1.0
                errs.append(abs(cos_exact - float(qv @ xh) / denom))
        p50 = float(np.quantile(errs, 0.5))
        report["per_m"][m] = {
            "code_bytes": m,
            "err_p50": p50,
            "err_p90": float(np.quantile(errs, 0.9)),
            "feasible": bool(p50 <= margin_factor * gap_ref),
        }
    feasible = [m for m, v in report["per_m"].items() if v.get("feasible")]
    report["suggested_m"] = min(feasible) if feasible else None
    return report


def residualize(
    df: DataFrame,
    cents: list,
    vec_col: str = "embedding",
    out_col: str = "__resid",
    cell_col: str = "centroid",
) -> DataFrame:
    """``x − centroid[cell]`` as a new ``array<double>`` column — the
    residual the IVF-PQ residual variant quantizes (public FAISS
    ``IndexIVFPQ`` formulation: per-cell residuals are far tighter than
    raw vectors, so the same m-byte budget spends its codewords on the
    informative part; round-10's raw-vector PQ burned most codewords
    re-describing which cell a vector sits in, collapsing raw ADC
    recall to 0.43 at 2M×64d).  Map-side only: the cell→vector table
    travels in the UDF closure, each Arrow batch is one gather +
    subtract, nothing shuffles, and the output is reshard-stable.
    ``cents`` is the ``[(cell_id, [floats]), ...]`` list every IVF function
    here shares; rows whose vector OR cell is NULL (and rows assigned a
    cell missing from ``cents`` — impossible for an index-internal
    caller, guarded anyway) residualize to NULL, matching
    :func:`pq_encode`'s NULL discipline downstream."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    pos = {int(i): p for p, (i, _v) in enumerate(cents)}
    C = np.array([v for _i, v in cents], dtype=np.float64)

    def _sub(v, c):  # two pd.Series -> pd.Series (see b18 note on hints)
        out = pd.Series([None] * len(v), dtype=object)
        known = c.map(lambda x: x in pos if x is not None else False)
        mask = (v.notna() & c.notna() & known).to_numpy(dtype=bool)
        if mask.any():
            X = np.array(v[mask].tolist(), dtype=np.float64)
            idx = np.array([pos[int(x)] for x in c[mask]], dtype=np.int64)
            R = X - C[idx]
            out[np.flatnonzero(mask)] = list(R)
        return out

    sub = pandas_udf(_sub, returnType=T.ArrayType(T.DoubleType()))
    return df.withColumn(out_col, sub(F.col(vec_col), F.col(cell_col)))


def _pq_shape(codebooks: list) -> tuple[int, int, int]:
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    for s, book in enumerate(codebooks):
        if len(book) != k or any(len(cw) != dsub for cw in book):
            raise ValueError(f"ragged codebook at subspace {s}")
    if k > 128:
        raise ValueError("codebooks exceed 128 codewords — codes are tinyint")
    return m, k, dsub


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    round_to: int | None = None,
    assign: str = "expression",
    keep_vec: bool = False,
) -> DataFrame:
    """Encode vectors to PQ codes (``array<tinyint>`` of length m): per
    subspace, the argmin-squared-L2 codeword, ties to the LOWEST code id.

    ``assign="expression"`` — JVM expressions via the expanded identity
    ``‖x‖²−2x·c+‖c‖²`` (the same float-op sequence an external engine's
    ``list_inner_product`` runs), distances rounded to ``round_to``
    BEFORE the argmin so the s09 oracle picks identical codes.
    ``assign="blas"`` — one (B×k) distance matrix per subspace per Arrow
    batch; unrounded (no external engine replays it); same tie-break
    (``np.argmin`` takes the first minimum).  Both are map-side only:
    codebooks travel as literals/closures, the corpus never shuffles,
    and encoding is reshard-stable."""
    m, k, dsub = _pq_shape(codebooks)
    if assign == "expression":
        v = F.col(vec_col).cast("array<double>")

        # Interpreted HOFs (CodegenFallback) re-evaluate non-lambda
        # subexpressions once PER ELEMENT — an inlined slice/cast would
        # run k times per subspace per row (measured: the s09 face went
        # from minutes to seconds at sf1 on this change).  Binding the
        # subvector and its self-dot as LAMBDA VARIABLES via a 1-element
        # outer transform evaluates them exactly once per (row, s); the
        # inner lambda then touches only bound O(1) references.  (A
        # factory, not a default-arg lambda, for the inner closure:
        # pyspark reads lambda ARITY, so a 2-param lambda would be fed
        # the array index as its second argument.)
        def _codes_for(book, s):
            sub = F.slice(v, s * dsub + 1, dsub)
            bound = F.array(F.struct(sub.alias("sv"), _dot(sub, sub).alias("n2")))

            def _per_sub(subv):
                d2 = F.transform(
                    book,
                    lambda cw: subv["n2"] - 2 * _dot(subv["sv"], cw) + _dot(cw, cw),
                )
                if round_to is not None:
                    d2 = F.transform(d2, lambda x: F.round(x, round_to))
                return (F.array_position(d2, F.array_min(d2)) - 1).cast("tinyint")

            return F.element_at(F.transform(bound, _per_sub), 1)

        codes = []
        for s in range(m):
            book = F.array(*[F.array(*[F.lit(x) for x in cw]) for cw in codebooks[s]])
            codes.append(_codes_for(book, s))
        out = df.withColumn(
            code_col, F.when(F.col(vec_col).isNotNull(), F.array(*codes))
        )
        return out if keep_vec else out.drop(vec_col)
    if assign != "blas":
        raise ValueError(f"unknown assign {assign!r}")
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    C = [np.ascontiguousarray(np.array(b, dtype=np.float64)) for b in codebooks]
    Cn2 = [np.einsum("kd,kd->k", c, c) for c in C]

    def _enc(v):  # pd.Series -> pd.Series (see b18 note on hints)
        mask = v.notna()
        out = pd.Series([None] * len(v), dtype=object)
        if mask.any():
            X = np.array(v[mask].tolist(), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int8)
            for s in range(m):
                S = X[:, s * dsub : (s + 1) * dsub]
                d2 = Cn2[s][None, :] - 2.0 * (S @ C[s].T)  # ‖x‖² constant per row
                codes[:, s] = d2.argmin(axis=1)
            out[np.flatnonzero(mask.to_numpy())] = list(codes)
        return out

    enc = pandas_udf(_enc, returnType=T.ArrayType(T.ByteType()))
    out = df.withColumn(code_col, enc(F.col(vec_col)))
    return out if keep_vec else out.drop(vec_col)


def pq_reconstruct_col(code_col: str | Column, codebooks: list) -> Column:
    """The decoded approximation x̂ as ``array<double>``: codeword lookup
    per subspace, flattened in subspace order.  Pure codegen literal
    lookup — the expression the oracle-facing ADC scores against (for
    dot/cosine, scoring the reconstruction IS ADC: subspaces are
    disjoint coordinates, so ``q·x̂ = Σ_s q_s·c_{s,code_s}``)."""
    m, _, _ = _pq_shape(codebooks)
    codes = (F.col(code_col) if isinstance(code_col, str) else code_col).cast("array<int>")
    books = F.array(
        *[
            F.array(*[F.array(*[F.lit(x) for x in cw]) for cw in codebooks[s]])
            for s in range(m)
        ]
    )
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda s: F.element_at(F.element_at(books, s), F.element_at(codes, s) + 1),
        )
    )


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
    round_to: int | None = None,
    adc: str = "blas",
) -> DataFrame:
    """PQ top-k search with asymmetric distance computation: float
    queries against the coded corpus, scored as cosine(q, x̂).

    ``adc="blas"`` — the production path, :func:`_blas_topk` with the
    books: per subspace a k×Q lookup table ``LUT_s[j] = q_s·c_{s,j}``
    is built ONCE from the (small by contract) query set, and each
    Arrow batch scores as m integer-indexed gathers + adds — no d-dim
    arithmetic per pair, the whole point of PQ; ‖x̂‖² comes from the
    same gather over per-codeword norms (subspace coordinates are
    disjoint, no cross terms), and the batch is cut to its lossless
    per-batch candidates like every other kernel face.  The
    corpus scan reads ONLY (id, m-byte code): at 100 TB the scan is
    ~m/(4d) of the float index.  ``adc="expression"`` — the JVM twin
    scoring :func:`pq_reconstruct_col` with the same rounded-cosine
    discipline as every oracle face here (s09's SQL runs the identical
    algorithm).  Both rank JVM-side in :func:`_rank_topk`: round →
    desc, neighbor-id tie-break; self-pairs excluded; a zero-norm query
    or reconstruction scores no pair on either face.  Scores are PQ
    estimates; recall vs the exact float path is pinned in
    tests/test_recall.py."""
    _pq_shape(codebooks)
    if adc not in ("blas", "expression"):
        raise ValueError(f"unknown adc {adc!r}")
    # NULL codes (pq_encode's output for NULL embeddings) and NULL query
    # vectors match nothing — dropped at the scan, before either scorer
    corpus_codes = corpus_codes.filter(F.col(code_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    if adc == "blas":
        return _blas_topk(
            corpus_codes, _collect_queries(q), k, id_col, code_col, round_to,
            pq_books=codebooks,
        )
    recon = pq_reconstruct_col(code_col, codebooks)
    c = corpus_codes.select(F.col(id_col).alias("neighbor_id"), recon.alias("__cvec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine_sim(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
    )
    return _rank_topk(scored.filter(F.col("neighbor_id") != F.col("query_id")), k, round_to)


def rrf_fuse(
    ranked: list,
    k: int = 10,
    k_rrf: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    round_to: int = 6,
) -> DataFrame:
    """B24 — reciprocal-rank fusion of N ranked retrieval legs (round
    12): ``score(q, d) = Σ_legs 1/(k_rrf + rank_leg(q, d))`` with a
    missing leg contributing 0 — the standard hybrid-retrieval combiner
    (Cormack et al. 2009; k_rrf=60 is the conventional constant) for
    fusing sparse BM25 (:func:`text.bm25_topk`) with dense ANN
    (:func:`cosine_topk` / the IVF/PQ probes), or any mix of ranked
    (query, id, rank) frames.

    Rank-based by construction, so fusion needs NO score calibration
    across legs — and it is exactly cross-engine-deterministic: every
    term is one correctly-rounded double division on integer ranks and
    the per-row sum is a single fixed-order projection expression (no
    aggregation reordering), rounded then ranked with the s01
    round-before-rank discipline (score desc, id asc).

    Scale shape: each leg is already a per-query top-k (bounded rows);
    the fusion is full-outer joins + one window over ≤ |queries|·k·N
    rows — negligible next to the retrieval legs at any corpus size."""
    if len(ranked) < 2:
        raise ValueError("rrf_fuse needs at least two ranked legs")
    if k_rrf <= 0:
        raise ValueError("k_rrf must be positive")
    legs = [
        df.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("__id"),
            F.col(rank_col).alias(f"__r{i}"),
        )
        for i, df in enumerate(ranked)
    ]
    fused = legs[0]
    for leg in legs[1:]:
        fused = fused.join(leg, ["query_id", "__id"], "full_outer")
    score = None
    for i in range(len(legs)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(f"__r{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    fused = fused.withColumn("rrf_score", F.round(score, round_to))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("__id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("__id").alias(id_col), "rrf_score", "rank")
    )
