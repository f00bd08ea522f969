#!/usr/bin/env python
"""Residual-encoded IVF-PQ at the 2M x 64d scale point (round-11 brief
item 3).

Round 10 measured raw-vector PQ (codes quantize x itself) at raw ADC
recall@10 = 0.43 on the 2M x 64d clustered corpus — usable only through
16x over-retrieve + exact re-rank.  The public fix (FAISS IndexIVFPQ)
quantizes PER-CELL RESIDUALS x − centroid[cell]: the coarse cell id
already carries the position, so the m-byte budget spends entirely on
the within-cell offset.  This script reuses round 10's corpus, centroid
sample and float/pq variants (ivfpq_scale_r10.py) and adds the
``pq_res`` variant over the SAME centroids — identical candidate cells,
so the recall delta isolates the encoding.

Done-criterion from VERDICT r10: raw ADC recall@10 >= 0.7 at m=32 with
the s09 oracle untouched (residual is opt-in; raw stays the default).

Emits IVFPQ_SCALE_r11.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etlbigdata_spark.functions import similarity as fsim  # noqa: E402
from etlbigdata_spark.session import build_session  # noqa: E402
from scripts.ivfpq_scale_r10 import du, gen_corpus, probed_bytes  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "IVFPQ_SCALE_r11.json")
WORK = os.environ.get("IVFPQ_WORK", "/tmp/scaled/ivfpq")
N = int(os.environ.get("IVFPQ_N", "2000000"))
N_CENTROIDS = 256
N_PROBE = int(os.environ.get("IVFPQ_NPROBE", "8"))
N_QUERIES = 20
K = 10
RUNS = int(os.environ.get("IVFPQ_RUNS", "3"))


def main() -> None:
    out: dict = {
        "n_vectors": N, "dim": 64, "n_centroids": N_CENTROIDS,
        "n_probe": N_PROBE, "k": K, "n_queries": N_QUERIES, "runs": RUNS,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "variants": {},
    }
    spark = build_session(
        app_name="ivfpq_scale_r11",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    corpus_path = f"{WORK}/corpus_n{N}"
    gen_corpus(spark, corpus_path)
    corpus = spark.read.parquet(corpus_path)
    queries = corpus.orderBy("vec_id").limit(N_QUERIES).cache()
    queries.count()

    t0 = time.perf_counter()
    truth_rows = fsim.cosine_topk(corpus, queries, k=K).collect()
    out["exact_topk_sec"] = round(time.perf_counter() - t0, 1)
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    # ONE deterministic centroid sample shared by the first three
    # variants (same xxhash64-order rule ivf_write_index(n_centroids=..)
    # applies internally, so the r10 indexes on disk share it too):
    # identical candidate cells — those recall deltas isolate the
    # ENCODING.  The _km variants swap the coarse quantizer for REAL
    # k-means cells (the FAISS IndexIVFPQ standard): measured here
    # because sampled-point cells leave residuals nearly as large as
    # the vectors themselves (mean |x| 5.15 vs mean |resid| 4.19 on
    # this corpus), which caps what residual ENCODING alone can recover
    # (pq_res: 0.45 vs raw 0.43).  float_km isolates the cell-miss term
    # under the k-means cells so pq_res_km's delta stays attributable.
    assigned, cents = fsim.ivf_assign(corpus, N_CENTROIDS)

    # raw-vector codebooks (round 10's variant, rebuilt only if absent)
    t0 = time.perf_counter()
    cb_raw = fsim.pq_fit(corpus, n_subspaces=32, n_codes=128,
                         method="kmeans", train_n=2000)
    out["pq_fit_raw_sec"] = round(time.perf_counter() - t0, 1)
    # residual codebooks: train on x − centroid[cell] over the SAME cells
    t0 = time.perf_counter()
    resid = fsim.residualize(assigned, cents)
    cb_res = fsim.pq_fit(resid, n_subspaces=32, n_codes=128,
                         method="kmeans", train_n=2000, vec_col="__resid")
    out["pq_fit_res_sec"] = round(time.perf_counter() - t0, 1)

    # k-means coarse quantizer (Lloyd's over the corpus, the production
    # IVF cell rule) + residual codebooks trained against ITS cells
    t0 = time.perf_counter()
    km_vecs, _a, _h = fsim.kmeans_fit(corpus, k=N_CENTROIDS, iters=4)
    km_cents = list(enumerate(km_vecs))
    out["kmeans_fit_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    resid_km = fsim.residualize(
        fsim._assign_cosine_argmax_blas(corpus, km_cents, "embedding", "centroid"), km_cents
    )
    cb_res_km = fsim.pq_fit(resid_km, n_subspaces=32, n_codes=128,
                            method="kmeans", train_n=4096, vec_col="__resid")
    out["pq_fit_res_km_sec"] = round(time.perf_counter() - t0, 1)

    variants = {
        "float": dict(centroids=None),
        "pq": dict(centroids=None, pq=cb_raw),
        "pq_res": dict(centroids=cents, pq=cb_res, pq_residual=True),
        "float_km": dict(centroids=km_cents),
        "pq_res_km": dict(centroids=km_cents, pq=cb_res_km, pq_residual=True),
    }
    for name, kw in variants.items():
        path = f"{WORK}/ivf_{name}_n{N}"
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
        if name.startswith("pq"):
            # the r10 production pattern, kept for comparison: ADC
            # over-retrieve then exact re-rank against the float source
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
            v["rerank_overfetch"] = 16 * K
            v["rerank_sec"] = round(time.perf_counter() - t0, 2)
            v["recall_at_10_reranked"] = round(sum(rr) / len(rr), 3)
        out["variants"][name] = v
        print(name, json.dumps(v), flush=True)

    p, r = out["variants"]["pq"], out["variants"]["pq_res"]
    rk = out["variants"]["pq_res_km"]
    out["residual_vs_raw"] = {
        "raw_adc_recall": p["recall_at_10"],
        "residual_adc_recall": r["recall_at_10"],
        "residual_kmeans_adc_recall": rk["recall_at_10"],
        "kmeans_cell_recall_ceiling": out["variants"]["float_km"]["recall_at_10"],
        "bytes_ratio": round(r["vectors_bytes"] / p["vectors_bytes"], 2),
        "wallclock_ratio": round(r["probe_sec"] / p["probe_sec"], 2),
    }
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    with open(OUT, "w") as fh:
        fh.write(json.dumps(out) + "\n")
    print(json.dumps(out["residual_vs_raw"]))


if __name__ == "__main__":
    main()
