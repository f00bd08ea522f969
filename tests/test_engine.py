"""Engine: the methods that hold the session or the catalog, or that add
behaviour over the package functions (method dispatch with validation,
enrichment chain, streaming drain) — each returns the same results as
the functions it dispatches to."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etlbigdata_spark.engine import Engine
from etlbigdata_spark.functions import dedup as fdedup
from etlbigdata_spark.functions import similarity as fsim
from etlbigdata_spark.plans.audit import walk
from etlbigdata_spark import workload


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark=spark)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return workload.load(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return workload.load(spark, sf_dir, "embeddings")


def test_near_dup_pairs_dispatch(eng, docs):
    got = {
        (r.id_a, r.id_b)
        for r in eng.near_dup_pairs(docs, method="jaccard", max_doc_freq=50).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in fdedup.ngram_jaccard_pairs(docs, max_doc_freq=50).collect()
    }
    assert got == want


def test_near_dup_pairs_rejects_unknown_method(eng, docs):
    with pytest.raises(ValueError):
        eng.near_dup_pairs(docs, method="levenshtein")


def test_dedup_near_removes_only_losers(eng, docs):
    out = eng.dedup_near(docs, method="jaccard", max_doc_freq=50)
    pairs = eng.near_dup_pairs(docs, method="jaccard", max_doc_freq=50)
    comps = fdedup.connected_components(pairs)
    n_losers = comps.filter(F.col("doc_id") != F.col("component_id")).count()
    assert out.count() == docs.count() - n_losers
    # winners (component ids) all survive
    winners = {r.component_id for r in comps.collect()}
    surviving = {r.doc_id for r in out.select("doc_id").collect()}
    assert winners <= surviving


def test_similar_topk_exact(eng, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.neighbor_id)
        for r in eng.similar_topk(emb, queries, k=5, round_to=6).collect()
    }
    want = {
        (r.query_id, r.neighbor_id)
        for r in fsim.cosine_topk(emb, queries, k=5, round_to=6).collect()
    }
    assert got == want


def test_similar_topk_ivf_dispatch(eng, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    out = eng.similar_topk(emb, queries, k=5, method="ivf", n_centroids=8, n_probe=8)
    assert out.groupBy("query_id").count().agg(F.max("count")).collect()[0][0] <= 5


def test_enrich_text_adds_all_columns(eng, docs):
    out = eng.enrich_text(docs.limit(50))
    for col in ("n_chars", "quality", "lang_pred", "fingerprint"):
        assert col in out.columns, out.columns
    assert out.count() == 50


def test_stream_facade_matches_batch(eng, spark, sf_dir, tmp_path):
    """Engine.stream_files → transform → stream_drain equals the same
    aggregation run in batch."""
    import os
    import shutil

    from pyspark.sql import functions as F

    src = f"{sf_dir}/customer.parquet"
    stage = tmp_path / "cust_stream"
    stage.mkdir()
    try:
        os.symlink(src, stage / "customer.parquet")
    except OSError:
        shutil.copyfile(src, stage / "customer.parquet")

    batch = spark.read.parquet(src)
    stream = eng.stream_files(str(stage), batch.schema)
    agg = stream.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    got = {(r.c_mktsegment, r.n) for r in eng.stream_drain(agg).collect()}
    want = {
        (r.c_mktsegment, r.n)
        for r in batch.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_pipeline_demo_runs(spark, sf_dir):
    """The end-to-end pipeline (scripts/pipeline_demo.py) runs and
    its stage counts are coherent: monotone non-increasing through the
    dedup/filter stages, non-trivial output."""
    import scripts.pipeline_demo as demo

    stages = demo.main(sf_dir)
    assert stages["input"] >= stages["after_exact_dedup"] >= stages["after_near_dedup"]
    assert stages["after_near_dedup"] >= stages["after_quality_filter"] > 0
    assert stages["total_tokens"] > 0 and stages["similarity_rows"] > 0
    # round-9 stages: up-sampling grows the mix, chunking fans out, and
    # the PQ probe returns a full top-k through the Engine's registry
    assert stages["after_epoch_mix"] > stages["after_quality_filter"]
    assert stages["n_chunks"] >= stages["after_epoch_mix"]
    assert stages["pq_similarity_rows"] == stages["similarity_rows"]


def test_sql_function_library_matches_dataframe_twins(spark, sf_dir):
    """B1 x B25 — the etl_* SQL scalar UDFs must stay in lockstep with
    their DataFrame twins: value-equal over the real corpus, and
    expression-backed (codegen), not Python UDFs."""
    from pyspark.sql import functions as F

    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import sql_functions, text as ftext

    names = sql_functions.register_sql_functions(spark)
    assert "etl_token_count" in names
    docs = workload.load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_sqlfn")

    via_sql = spark.sql("""
        SELECT doc_id,
               etl_token_count(text)   AS n_tok,
               etl_word_count(text)    AS n_words,
               etl_normalize_text(text) AS norm,
               etl_fingerprint(text)   AS fp,
               etl_rolling_fingerprint(text) AS rfp,
               round(etl_punct_ratio(text), 6) AS pr,
               etl_word_shingles(text, 3) AS sh
        FROM docs_sqlfn
    """)
    via_df = docs.select(
        "doc_id",
        ftext.token_count_col("text").alias("n_tok"),
        F.size(ftext.tokens_col("text")).alias("n_words"),
        ftext.normalize_text_col("text").alias("norm"),
        ftext.fingerprint_col("text").alias("fp"),
        ftext.rolling_fingerprint_col("text").alias("rfp"),
        F.round(
            F.when(F.length("text") > 0,
                   (F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", "")))
                   / F.length("text")).otherwise(F.lit(0.0)), 6).alias("pr"),
        __import__("etlbigdata_spark.functions.dedup", fromlist=["word_shingles"])
        .word_shingles("text", 3).alias("sh"),
    )
    a = {r.doc_id: tuple(r)[1:] for r in via_sql.collect()}
    b = {r.doc_id: tuple(r)[1:] for r in via_df.collect()}
    assert a == b

    # expression-backed: the plan carries no BatchEvalPython/ArrowEval
    assert not any("EvalPython" in n.name for n in walk(via_sql))

    # etl_word_count tokenizes like tokens_col, with no interpreted
    # lambda; etl_word_shingles' transform shows the check sees one
    lam = spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern.LAMBDA_FUNCTION()

    def lambdas(expr):
        plan = spark.sql(f"SELECT {expr} AS v FROM docs_sqlfn")
        return sum(n.jnode.containsPattern(lam) for n in walk(plan))

    assert lambdas("etl_word_count(text)") == 0
    assert lambdas("etl_word_shingles(text, 3)") > 0


def test_cluster_embeddings_diversity_sampling(emb):
    """Cluster-balanced diversity sampling: kmeans_fit assignment ->
    quota_sample(centroid) yields exactly k deterministic picks per
    non-small cluster."""
    from etlbigdata_spark.functions import corpus as fcorpus

    cents, assigned, hist = fsim.kmeans_fit(emb, k=4, iters=2)
    assert len(cents) == 4 and len(hist) == 2
    picked = fcorpus.quota_sample(assigned, "centroid", k=5, id_col="vec_id")
    sizes = {r["centroid"]: r["n"] for r in
             assigned.groupBy("centroid").agg(F.count(F.lit(1)).alias("n")).collect()}
    counts = {}
    for r in picked.collect():
        counts[r["centroid"]] = counts.get(r["centroid"], 0) + 1
    for c, n in sizes.items():
        assert counts.get(c, 0) == min(5, n)
    # determinism: same picks on a repartitioned input
    again = fcorpus.quota_sample(assigned.repartition(5), "centroid", k=5, id_col="vec_id")
    assert {(r["centroid"], r["vec_id"]) for r in again.collect()} == {
        (r["centroid"], r["vec_id"]) for r in picked.collect()
    }


def test_near_dup_pairs_image_dispatch(eng, spark):
    import numpy as np

    from etlbigdata_spark.functions import codecs

    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    b = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("x", bytearray(codecs.encode_ppm(a))),
         ("x2", bytearray(codecs.encode_ppm(a.copy()))),
         ("y", bytearray(codecs.encode_ppm(b)))],
        "key string, blob binary",
    )
    pairs = eng.near_dup_pairs(df, method="image", key_col="key", bytes_col="blob", max_hamming=0)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {("x", "x2")}
