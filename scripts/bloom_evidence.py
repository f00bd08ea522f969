#!/usr/bin/env python
"""Bloom-filter needle-lookup evidence (round-8 brief item 5): measure,
at sf0.1, what the A18 ``bloom_filter_cols`` write lever buys a point
lookup — the query face is ``b43_bloom_needle`` (oracle-green); this
script records the NUMBERS behind it.

Setup: lineitem (sf0.1, ~600 k rows) written twice with multiple row
groups per file (small ``parquet.block.size`` so row-group skipping has
something to skip even at local scale — at 100 TB the default 128 MB
groups give the same shape), dictionary encoding OFF for the key column
in both copies (a dictionary page is itself an exact filter and would
mask the bloom's contribution; high-cardinality keys at scale overflow
dictionaries anyway, which is exactly when blooms matter —
writers.py docstring):

* ``control`` — plain parquet.
* ``bloomed`` — ``bloom_filter_cols=["l_orderkey"]``.

Probe: an ABSENT key strictly inside [min, max] of every row group's
key range (the scatter makes each row group's min/max span the whole
domain, so min/max stats can never skip — the adversarial case for
stats, the designed case for blooms).

Metric: the scan node's ``numOutputRows`` (rows emitted by the file
scan AFTER row-group/page skipping, BEFORE the Filter) + wall-clock
min-of-3.  Expected: control emits every row (no row group can be
ruled out), bloomed emits 0 (every row group's bloom answers "absent").

Writes one JSON line to stdout and BLOOM_EVIDENCE_r08.json.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etlbigdata_spark.plans.audit import scan_rows
from etlbigdata_spark.sources import writers
from etlbigdata_spark.workload import load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # the repo's tuned session (review fix: ad-hoc confs drifted from
    # every other BASELINE.md measurement)
    from etlbigdata_spark.session import build_session

    spark = build_session(app_name="bloom_evidence", master=f"local[{cpus}]")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    n_rows = li.count()
    mm = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    lo, hi = int(mm[0]), int(mm[1])
    # absent ODD-offset key strictly inside the domain: lineitem
    # orderkeys are sparse (TPC-H-ish 1 in 4 density), pick a gap key
    present = {r[0] for r in li.select("l_orderkey").distinct().collect()}
    probe = next((k for k in range((lo + hi) // 2, hi) if k not in present), None)
    if probe is None:  # lazily fall back to the lower half
        probe = next((k for k in range(lo + 1, hi) if k not in present), None)
    if probe is None:
        raise SystemExit(
            "no absent key strictly inside [min,max] — the key domain is "
            "dense, so min/max stats alone could skip and the bloom A/B "
            "would be meaningless on this data"
        )

    base = tempfile.mkdtemp(prefix="bloom_ev_")
    out: dict = {"sf_dir": sf_dir, "n_rows": n_rows, "probe_key": probe}
    try:
        # ~16 row groups per copy: small block size; same for both arms
        common = {
            "parquet.block.size": str(1 << 20),
            "parquet.enable.dictionary": "false",
        }
        writers.write_parquet(li.repartition(4), f"{base}/control", **common)
        writers.write_parquet(
            li.repartition(4),
            f"{base}/bloomed",
            bloom_filter_cols=["l_orderkey"],
            bloom_filter_ndv=max(len(present), 1),
            **common,
        )
        for arm in ("control", "bloomed"):
            q = spark.read.parquet(f"{base}/{arm}").filter(
                F.col("l_orderkey") == probe
            )
            q.collect()
            out[f"{arm}_scan_rows"] = scan_rows(q)
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                q.collect()
                times.append(time.perf_counter() - t0)
            out[f"{arm}_sec"] = round(min(times), 4)
        out["rows_skipped_by_bloom"] = out["control_scan_rows"] - out["bloomed_scan_rows"]
        out["skip_pct"] = round(
            100.0 * out["rows_skipped_by_bloom"] / max(out["control_scan_rows"], 1), 2
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    line = json.dumps(out)
    print(line)
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BLOOM_EVIDENCE_r08.json"), "w"
    ) as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
