#!/usr/bin/env python
"""Skew evidence run (round-5 brief item 1): prove on REAL workload
queries over the Zipfian sf1 variant (``make_scaled_sf.py --zipf``) that

1. **AQE skew-join splitting fires** on the production plans: the
   orders⋈lineitem sort-merge join (q12/q18 shapes) sees ~8/4/1.5/1/
   0.5% of all line items concentrated on 5 orderkeys; after execution
   the AQE-final plan must show ``skew=true`` splits.
2. **The dedup hot-shingle guard keeps candidate volume subquadratic**:
   ~20% of documents share a fixed 6-token tail, so its 3-gram shingles
   have doc-frequency ≈ 10 000 at sf1 — candidate pairs through those
   shingles alone would be ~10 000²/2 ≈ 5×10⁷ per shingle. The
   ``max_doc_freq=50`` cutoff (d02/d03's production setting) must cap
   the generated candidate volume near its uniform-data level.

Skew-split thresholds are scaled DOWN proportionally to the test data:
Spark's defaults (256 MB skewed-partition threshold, ×5 factor) target
real cluster partitions; sf1's entire lineitem table is ~180 MB of
parquet, so without scaling no partition could ever qualify no matter
how skewed. 1 MB threshold / ×2 factor / 512 KB advisory size fire on
the same relative shape at 1/1000 the data — at 100 TB the defaults
fire unmodified. No ``forceOptimizeSkewedJoin`` needed (measured).

Expected shape of the results (recorded in BASELINE.md round-5):

* q12 — raw line items reach the orders⋈lineitem SMJ, the hot-key
  partition splits (``skew=true`` + ``AQEShuffleRead ... skewed``),
  and the on/off A/B shows the split winning even at local scale.
* q18 — ZERO splits, and that is the evidence: its partial aggregate
  collapses the 480 k-row hot orderkey to one row on the map side, so
  no skew survives to the join. A plan that needs no skew handling
  beats one that handles skew well.

Usage: python scripts/skew_evidence.py [sf_dir]
Prints one JSON line with the skew-split counts, the q12 on/off A/B,
straggler-key stats, and guarded/unguarded candidate volumes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etlbigdata_spark import workload  # noqa: E402
from etlbigdata_spark.functions import dedup as fdedup  # noqa: E402
from etlbigdata_spark.operators import scale  # noqa: E402
from etlbigdata_spark.plans.audit import walk  # noqa: E402
from etlbigdata_spark.session import build_session  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfscale/sf1z"


SKEW_CONF = {
    # see module docstring: thresholds scaled to the test data
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
}


def main() -> None:
    import time

    spark = build_session("skew_evidence", extra_conf=SKEW_CONF)
    out: dict = {"sf_dir": SF_DIR}

    # -- 1. AQE skew-join splits on real workload queries -------------
    skew_hits = {}
    for name in ("q12_shipmode_priority", "q18_large_orders", "q21_sole_failing_supplier"):
        df = workload.QUERIES[name](spark, SF_DIR)
        df.collect()
        skew_hits[name] = sum("skew=true" in n.name for n in walk(df))
    out["aqe_skew_splits"] = skew_hits

    # same-session on/off A/B for the firing query (runtime SQL conf,
    # min of 3 after warm-up — bench.py's protocol)
    def time_q12() -> float:
        fn = workload.QUERIES["q12_shipmode_priority"]
        fn(spark, SF_DIR).toPandas()
        return round(
            min(
                (lambda t0: (fn(spark, SF_DIR).toPandas(), time.perf_counter() - t0)[1])(
                    time.perf_counter()
                )
                for _ in range(3)
            ),
            3,
        )

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    out["q12_sec_skew_off"] = time_q12()
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    out["q12_sec_skew_on"] = time_q12()

    # straggler shape that forced the splits (scale.top_frequent_keys —
    # the diagnostic the module tells users to run first)
    li = workload.load(spark, SF_DIR, "lineitem")
    top = scale.top_frequent_keys(li, ["l_orderkey"], top_n=6).collect()
    med = li.groupBy("l_orderkey").count().agg(
        F.expr("percentile(count, 0.5)").alias("m")
    ).collect()[0]["m"]
    out["lineitem_hot_orderkeys"] = {str(r["l_orderkey"]): r["n_rows"] for r in top}
    out["lineitem_median_orderkey_rows"] = med

    # -- 2. dedup guard: candidate volume stays subquadratic ----------
    # candidate volume = sum over shingles of C(df,2), computed from the
    # doc-frequency table alone (never materializing pairs)
    docs = workload.load(spark, SF_DIR, "documents")
    sh = fdedup.exploded_shingles(docs, "doc_id", "text", n=3)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    vols = dfreq.agg(
        F.sum(F.expr("df * (df - 1) / 2")).alias("unguarded"),
        F.sum(F.expr("CASE WHEN df <= 50 THEN df * (df - 1) / 2 ELSE 0 END")).alias("guarded"),
        F.max("df").alias("max_df"),
        F.count(F.lit(1)).alias("n_shingles"),
    ).collect()[0]
    out["candidate_pairs_unguarded"] = int(vols["unguarded"])
    out["candidate_pairs_guarded"] = int(vols["guarded"])
    out["max_shingle_doc_freq"] = int(vols["max_df"])
    out["n_distinct_shingles"] = int(vols["n_shingles"])

    print(json.dumps(out))


if __name__ == "__main__":
    main()
