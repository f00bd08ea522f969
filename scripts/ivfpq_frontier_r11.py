#!/usr/bin/env python
"""IVF-PQ recall frontier at 2M x 64d (round-11 brief item 3, part 2).

IVFPQ_SCALE_r11.json measured residual encoding (sampled cells 0.45;
k-means cells 0.585) against the 0.43 raw baseline — real recovery,
but short of the brief's 0.7 raw-ADC target at m=32.  This script pins
WHY, with three measurements on the same corpus/truth:

1. **Margin diagnostic** — the mean exact-cosine gap between the true
   rank-10 and rank-11 neighbors vs each encoding's median |ADC error|.
   On this corpus a query's ~122 subgroup-mates are separated only by
   the noise term: if the rank-10/11 gap is far below the m=32
   quantization error, NO 28-byte code (FAISS's included) can rank
   them — the residual encoding closed what was closable and the rest
   is rate-distortion, not implementation.
2. **Overfetch sweep** — reranked recall@10 at 1/2/4/8/16x ADC
   over-retrieve for raw vs residual-km: the practical win of a better
   encoding is how little over-retrieve the production pattern needs
   (rerank IO scales with it).
3. **Byte-parity point** — m=64 residual-km PQ (56 bytes, the SQ8
   budget): if recall jumps to SQ8's level the m=32 shortfall is
   provably the byte budget, completing the frontier
   (28B -> 0.585, 56B -> ?, 64B SQ8 -> 0.955, 256B float -> 1.0).

Reuses the persisted indexes from ivfpq_scale_r11.py; builds only the
m=64 variant.  Emits IVFPQ_FRONTIER_r11.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from etlbigdata_spark.functions import similarity as fsim  # noqa: E402
from etlbigdata_spark.session import build_session  # noqa: E402

WORK = os.environ.get("IVFPQ_WORK", "/tmp/scaled/ivfpq")
N = int(os.environ.get("IVFPQ_N", "2000000"))
N_CENTROIDS = 256
N_PROBE = 8
N_QUERIES = 20
K = 10
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "IVFPQ_FRONTIER_r11.json")


def main() -> None:
    out: dict = {
        "n_vectors": N, "dim": 64, "n_centroids": N_CENTROIDS,
        "n_probe": N_PROBE, "k": K,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
    }
    spark = build_session(
        app_name="ivfpq_frontier_r11",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
    )
    corpus = spark.read.parquet(f"{WORK}/corpus_n{N}")
    queries = corpus.orderBy("vec_id").limit(N_QUERIES).cache()
    queries.count()

    # exact top-12: ranks 10/11 give the margin the encodings must beat
    truth_rows = fsim.cosine_topk(corpus, queries, k=K + 2, round_to=9).collect()
    by_q: dict = {}
    for r in truth_rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    truth = {q: {nid for rk, nid, _c in rows if rk <= K} for q, rows in by_q.items()}
    gaps = []
    for q, rows in by_q.items():
        cs = {rk: c for rk, _n, c in rows}
        if K in cs and K + 1 in cs:
            gaps.append(cs[K] - cs[K + 1])
    out["rank10_vs_11_cosine_gap"] = {
        "mean": round(float(np.mean(gaps)), 6),
        "p90": round(float(np.percentile(gaps, 90)), 6),
    }

    qvecs = {
        r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
        for r in queries.collect()
    }

    # m=64 residual-km index (56-byte codes): built once, reused after
    km_path = f"{WORK}/ivf_pq64_res_km_n{N}"
    if not os.path.exists(f"{km_path}/centroids"):
        t0 = time.perf_counter()
        km_vecs, _a, _h = fsim.kmeans_fit(corpus, k=N_CENTROIDS, iters=4)
        km_cents = list(enumerate(km_vecs))
        resid_km = fsim.residualize(
            fsim._assign_cosine_argmax_blas(corpus, km_cents, "embedding", "centroid"), km_cents
        )
        cb64 = fsim.pq_fit(resid_km, n_subspaces=64, n_codes=128,
                           method="kmeans", train_n=4096, vec_col="__resid")
        fsim.ivf_write_index(corpus, km_path, centroids=km_cents,
                             pq=cb64, pq_residual=True)
        out["pq64_build_sec"] = round(time.perf_counter() - t0, 1)

    def du(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path) for f in fs
        )

    variants = {
        "pq_raw_m32": f"{WORK}/ivf_pq_n{N}",
        "pq_res_km_m32": f"{WORK}/ivf_pq_res_km_n{N}",
        "pq64_res_km": km_path,
    }
    overfetch = [1, 2, 4, 8, 16]
    for name, path in variants.items():
        v: dict = {"vectors_bytes": du(f"{path}/vectors")}
        # one max-k ADC probe serves every overfetch point AND the
        # error diagnostic (cosine column = the ADC estimate)
        t0 = time.perf_counter()
        rows = fsim.ivf_probe_index(
            spark, path, queries, k=max(overfetch) * K, n_probe=N_PROBE, round_to=6,
        ).collect()
        v["probe_sec"] = round(time.perf_counter() - t0, 2)
        ranked: dict = {}
        est: dict = {}
        for r in rows:
            ranked.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
            est[(r.query_id, r.neighbor_id)] = r.cosine
        # ADC raw recall@10 (rank <= K)
        got = {q: {n for rk, n in rr if rk <= K} for q, rr in ranked.items()}
        v["adc_recall_at_10"] = round(
            sum(len(truth[q] & got.get(q, set())) / K for q in truth) / len(truth), 3
        )
        # |ADC error| vs exact cosine over the shortlist (exact computed
        # driver-side from the fetched float vectors — bounded set)
        all_ids = sorted({n for rr in ranked.values() for _rk, n in rr})
        vec_by_id = {
            r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
            for r in corpus.filter(F.col("vec_id").isin(all_ids)).collect()
        }
        errs, rr_recall = [], {}
        for q, rr in ranked.items():
            qv = qvecs[q]
            qn = np.linalg.norm(qv)
            exact_cos = {}
            for _rk, n in rr:
                xv = vec_by_id[n]
                exact_cos[n] = float(xv @ qv / (np.linalg.norm(xv) * qn))
                errs.append(abs(exact_cos[n] - est[(q, n)]))
            for of in overfetch:
                cand = [n for rk, n in sorted(rr) if rk <= of * K]
                top = {
                    n for n in sorted(
                        cand, key=lambda n: (-exact_cos[n], n)
                    )[:K]
                }
                rr_recall.setdefault(of, []).append(len(truth[q] & top) / K)
        v["adc_abs_err_p50"] = round(float(np.median(errs)), 6)
        v["adc_abs_err_p90"] = round(float(np.percentile(errs, 90)), 6)
        v["reranked_recall_by_overfetch"] = {
            str(of): round(sum(rs) / len(rs), 3) for of, rs in rr_recall.items()
        }
        out[name] = v
        print(name, json.dumps(v), flush=True)

    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    with open(OUT, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out["rank10_vs_11_cosine_gap"]))


if __name__ == "__main__":
    main()
