#!/usr/bin/env python
"""End-to-end training-data pipeline — the "switch from the reference"
artifact: load → exact dedup → near-dup dedup (MinHash verified, keep
the LONGEST duplicate) → text enrichment → quality filter →
epoch-weighted mixing → chunking → token budget → similarity probe
(exact + PQ), every stage lazy until its action.  The Engine holds the
session, the catalog and the method dispatch (near-dup, top-k); every
other stage calls the package functions directly.

Usage: python scripts/pipeline_demo.py [sf_dir]
Prints one JSON line of per-stage counts.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etlbigdata_spark.engine import Engine  # noqa: E402
from etlbigdata_spark.functions import corpus as fcorpus  # noqa: E402
from etlbigdata_spark.functions import dedup as fdedup  # noqa: E402
from etlbigdata_spark.functions import similarity as fsim  # noqa: E402
from etlbigdata_spark.operators import merge as fmerge  # noqa: E402
from etlbigdata_spark.operators import quality as dq  # noqa: E402
from etlbigdata_spark.plans import audit as plan_audit  # noqa: E402
from etlbigdata_spark.sources import writers  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def main(sf_dir: str = DEFAULT_SF_DIR) -> dict:
    eng = Engine(app_name="pipeline_demo", master="local[8]", shuffle_partitions=8)
    tables = eng.load_testdata(sf_dir, tables=["documents", "embeddings"])
    docs, emb = tables["documents"], tables["embeddings"]
    stages: dict[str, int] = {"input": docs.count()}

    # 1. exact dedup (md5 winner per text)
    docs = fdedup.exact_dedup(docs, text_col="text", id_col="doc_id")
    stages["after_exact_dedup"] = docs.count()

    # 2. near-dup dedup: verified-MinHash pairs → components → keep the
    # LONGEST member per cluster (round 9: keep_by, the production
    # canonical policy; min-id default remains the oracle face)
    docs = eng.dedup_near(
        docs, method="minhash_verified", id_col="doc_id", threshold=0.5,
        keep_by="n_chars",
    )
    stages["after_near_dedup"] = docs.count()

    # 3. enrichment: stats + quality + language + fingerprint (one pass)
    enriched = eng.enrich_text(docs, text_col="text")

    # 4. quality + length filters (the corpus-cleaning step)
    kept = enriched.filter((F.col("quality") >= 0.3) & (F.col("n_chars") >= 40))
    stages["after_quality_filter"] = kept.count()

    # 4b. (round 9) epoch-weighted mixing: up-sample the smallest source
    # to 2.5 epochs, keep the rest at 1 — the training-mix recipe step
    smallest = (
        kept.groupBy("source").count().orderBy("count", "source").first()["source"]
    )
    mixed = fcorpus.epoch_sample(kept, {smallest: 2.5}, default_rate=1.0)
    stages["after_epoch_mix"] = mixed.count()
    assert stages["after_epoch_mix"] > stages["after_quality_filter"]

    # 4c. (round 9) chunk into overlapping training windows
    chunks = fcorpus.chunk_documents(mixed, "doc_id", "text", chunk_tokens=32, stride=24)
    stages["n_chunks"] = chunks.count()

    # 5. token budget: running total of token counts in doc_id order
    budget = kept.agg(F.sum("n_tokens").alias("total_tokens")).collect()[0]
    stages["total_tokens"] = int(budget["total_tokens"])

    # 6. similarity probe: top-3 neighbors for the first 3 surviving docs
    queries = emb.filter(F.col("vec_id") < 3)
    stages["similarity_rows"] = eng.similar_topk(emb, queries, k=3, round_to=6).count()

    # 6b. (round 9) the same probe through PQ codes (32 bytes/vector):
    # fit → encode → LUT-ADC search, the search via the Engine's registry
    cb = fsim.pq_fit(emb, n_subspaces=32, n_codes=64, method="kmeans", train_n=512)
    coded = fsim.pq_encode(emb, cb, assign="blas")
    stages["pq_similarity_rows"] = eng.similar_topk(
        coded, queries, k=3, method="pq", codebooks=cb, round_to=6
    ).count()

    # 7. (round 4) data-quality gate on the surviving corpus
    dq.assert_checks(
        kept,
        [dq.not_null("doc_id"), dq.unique("doc_id"), dq.in_range("quality", 0.0, 1.0)],
    )
    stages["dq_rules_passed"] = 3

    # 8. (round 4) persist the corpus signature index, then dedup a
    # simulated NEW batch against it without re-reading the corpus
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        writers.write_parquet(fdedup.minhash_signatures(kept, id_col="doc_id", text_col="text"), td)
        index = eng.load_parquet(td)
        batch = kept.limit(20).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        inc = fdedup.incremental_minhash_pairs(batch, index, id_col="doc_id", text_col="text",
                                               jaccard_distance_threshold=0.1)
        # every batch doc is a copy of a corpus doc → each must re-find
        # its source at distance 0
        stages["incremental_hits"] = inc.filter(F.col("jaccard_dist") == 0.0).count()
        assert stages["incremental_hits"] >= 20

    # 9. (round 4) CDC upsert: merge a price-corrected delta back in
    delta = kept.limit(5).withColumn("quality", F.lit(1.0))
    merged = fmerge.merge_upsert(kept, delta, ["doc_id"])
    stages["after_merge"] = merged.count()

    # 10. (round 4) plan lint: the final pipeline plan must raise no
    # scale warnings (cartesian/NL joins, missing pushdown, wide scans).
    # allow_hofs: enrich_text's language_id sorts a 5-entry score map
    # per row — the bounded-tiny-array case the HOF rule whitelists
    stages["plan_warnings"] = len(plan_audit.lint(merged, allow_hofs=True))
    assert stages["plan_warnings"] == 0
    # the HOF rule itself must still see the bounded lambdas (proves the
    # lint ran against the real plan, not a trivially empty one)
    assert any(w.startswith("[hof]") for w in plan_audit.lint(merged))

    return stages


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR)))
