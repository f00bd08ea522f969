#!/usr/bin/env python
"""IVF-PQ at a scale where PQ pays (round-10 brief item 6).

The 20k x 64d driver embeddings fit page cache, so exact search wins
wall-clock and the PQ story was theory.  This script manufactures a
2M x 64d CLUSTERED corpus (the regime IVF exists for: 256 deterministic
hash-derived cluster centers + small per-id noise — no RNG, rebuildable
anywhere), builds THREE indexes over identical centroids, and measures
the probe side by side:

* float IVF  (64 x float32 per vector)
* SQ8 IVF    (64 x int8 + scale; ~4x smaller)
* IVF-PQ     (m=32 byte codes + LUT-ADC scoring; 8x smaller raw)

Measured per variant: vectors-dir bytes on disk, bytes READ by a probe
(sum of the probed partition directories — the probe is a static
partition filter, so this is exact, not estimated), probe wall-clock
(one 20-query batch, min of RUNS), and recall@10 against the exact
BLAS top-k ground truth on the same corpus.  Same centroids + same
n_probe => identical candidate cells for all three; only quantization
error differs, so the recall deltas isolate the encoding.

Emits IVFPQ_SCALE_r10.json.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etlbigdata_spark.functions import similarity as fsim  # noqa: E402
from etlbigdata_spark.session import build_session  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "IVFPQ_SCALE_r10.json")
WORK = os.environ.get("IVFPQ_WORK", "/tmp/scaled/ivfpq")
N = int(os.environ.get("IVFPQ_N", "2000000"))
D = 64
N_CLUSTERS = 256            # data property (generation)
N_CENTROIDS = 256           # index property
N_PROBE = int(os.environ.get("IVFPQ_NPROBE", "8"))
N_QUERIES = 20
K = 10
RUNS = int(os.environ.get("IVFPQ_RUNS", "3"))


def gen_corpus(spark, path: str) -> None:
    """Deterministic HIERARCHICALLY clustered corpus (the shape real
    embedding spaces have): vec_id i belongs to subgroup
    xxhash64(i) % 16384, subgroups nest in clusters (cl = sg % 256);
    dim j = center(cl, j) + 0.5*sub(sg, j) + 0.15*noise(i, j).  A
    query's true neighbors are its ~122 subgroup-mates, separated from
    cluster-mates by a REAL cosine margin — without the subgroup term
    the true top-10 would be near-ties among thousands of cluster-mates
    that no quantizer (or competitor ANN system) can resolve, and the
    recall column would measure tie-breaking, not encoding error.  All
    hash-derived — content-addressed, reshard-stable, no RNG."""
    if os.path.exists(f"{path}/_SUCCESS"):
        return
    ids = spark.range(N).select(F.col("id").alias("vec_id"))
    sg = (F.abs(F.xxhash64(F.col("vec_id"))) % (N_CLUSTERS * 64)).alias("sg")
    dims = []
    for j in range(D):
        center = (
            (F.abs(F.xxhash64(F.concat((F.col("sg") % N_CLUSTERS).cast("string"), F.lit(f"_c{j}")))) % 2000)
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
        dims.append((center + sub + noise).cast("float"))
    (
        ids.withColumn("sg", sg)
        .select("vec_id", F.array(*dims).alias("embedding"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(path)
    )


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def probed_bytes(spark, path: str, queries) -> int:
    """Exact bytes a probe reads: the probed centroid partitions'
    on-disk size (same centroid/probe math as ivf_probe_index)."""
    cents_rows = spark.read.parquet(f"{path}/centroids").orderBy("centroid").collect()
    cents = [(r["centroid"], list(r["vec"])) for r in cents_rows]
    q = fsim._query_probes(queries, cents, N_PROBE, "vec_id", "embedding")
    return sum(du(f"{path}/vectors/centroid={c}") for c in q.probed())


def main() -> None:
    out: dict = {
        "n_vectors": N, "dim": D, "n_centroids": N_CENTROIDS,
        "n_probe": N_PROBE, "k": K, "n_queries": N_QUERIES, "runs": RUNS,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "variants": {},
    }
    spark = build_session(
        app_name="ivfpq_scale_r10",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    corpus_path = f"{WORK}/corpus_n{N}"  # keyed on N: a stale cache must not mislabel the artifact
    t0 = time.perf_counter()
    gen_corpus(spark, corpus_path)
    out["gen_sec"] = round(time.perf_counter() - t0, 1)
    corpus = spark.read.parquet(corpus_path)
    queries = corpus.orderBy("vec_id").limit(N_QUERIES).cache()
    queries.count()

    # exact ground truth (BLAS brute force — the recall yardstick)
    t0 = time.perf_counter()
    truth_rows = fsim.cosine_topk(corpus, queries, k=K).collect()
    out["exact_topk_sec"] = round(time.perf_counter() - t0, 1)
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    # PQ codebooks trained once on the corpus sample
    t0 = time.perf_counter()
    cb = fsim.pq_fit(corpus, n_subspaces=32, n_codes=128, method="kmeans", train_n=2000)
    out["pq_fit_sec"] = round(time.perf_counter() - t0, 1)

    variants = {
        "float": dict(),
        "sq8": dict(quantize=True),
        "pq": dict(pq=cb),
    }
    for name, kw in variants.items():
        path = f"{WORK}/ivf_{name}_n{N}"  # keyed on N, like the corpus (review r10)
        v: dict = {}
        if not os.path.exists(f"{path}/centroids"):
            t0 = time.perf_counter()
            fsim.ivf_write_index(corpus, path, n_centroids=N_CENTROIDS, **kw)
            v["build_sec"] = round(time.perf_counter() - t0, 1)
        v["vectors_bytes"] = du(f"{path}/vectors")
        v["probed_bytes"] = probed_bytes(spark, path, queries)
        ts, got = [], {}
        for _ in range(RUNS):
            t0 = time.perf_counter()
            rows = fsim.ivf_probe_index(
                spark, path, queries, k=K, n_probe=N_PROBE, round_to=6,
            ).collect()
            ts.append(round(time.perf_counter() - t0, 2))
            got = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
        v["probe_sec"] = min(ts)
        v["probe_runs"] = ts
        recalls = [len(truth[q] & got.get(q, set())) / K for q in truth]
        v["recall_at_10"] = round(sum(recalls) / len(recalls), 3)
        if name == "pq":
            # the standard IVF-PQ production pattern: ADC over-retrieve
            # then EXACT re-rank of the shortlist against the
            # source-of-truth float table (candidates are ~16k x Q rows —
            # driver-trivial; the corpus fetch is an id semi-filter)
            import numpy as np

            t0 = time.perf_counter()
            rows4k = fsim.ivf_probe_index(
                spark, path, queries, k=16 * K, n_probe=N_PROBE, round_to=6,
            ).collect()
            cand: dict = {}
            for r in rows4k:
                cand.setdefault(r.query_id, []).append(r.neighbor_id)
            all_ids = sorted({i for ids_ in cand.values() for i in ids_})
            vec_by_id = {
                r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
                for r in corpus.filter(F.col("vec_id").isin(all_ids)).collect()
            }
            qvecs = {
                r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
                for r in queries.collect()
            }
            rr = []
            for qid, ids_ in cand.items():
                qv = qvecs[qid]
                scored = sorted(
                    ((float(vec_by_id[i] @ qv / (np.linalg.norm(vec_by_id[i]) * np.linalg.norm(qv))), i)
                     for i in ids_),
                    key=lambda t: (-t[0], t[1]),
                )
                top = {i for _s, i in scored[:K]}
                rr.append(len(truth[qid] & top) / K)
            v["rerank_overfetch"] = 16 * K  # must exceed the ambiguity set (~122 subgroup-mates score near-identically under ADC)
            v["rerank_sec"] = round(time.perf_counter() - t0, 2)
            v["recall_at_10_reranked"] = round(sum(rr) / len(rr), 3)
        out["variants"][name] = v
        print(name, json.dumps(v), flush=True)

    f = out["variants"]["float"]
    p = out["variants"]["pq"]
    out["crossover"] = {
        "pq_bytes_shrink_vs_float": round(f["vectors_bytes"] / p["vectors_bytes"], 1),
        "pq_probed_shrink_vs_float": round(f["probed_bytes"] / p["probed_bytes"], 1),
        "pq_wallclock_vs_float": round(p["probe_sec"] / f["probe_sec"], 2),
    }
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    with open(OUT, "w") as fh:
        fh.write(json.dumps(out) + "\n")
    print(json.dumps(out["crossover"]))


if __name__ == "__main__":
    main()
