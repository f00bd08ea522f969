#!/usr/bin/env python
"""Dump the formatted physical plans (``explain("formatted")``) of
declared queries, in one of two modes.

* ``python scripts/dump_plans.py [sf_dir]`` regenerates PLANS.md, the
  plan-quality review: for each representative query, the AQE-final
  plan plus automatic checks for the properties that matter at 100 TB —
  parquet filter pushdown (PushedFilters), column pruning (ReadSchema
  width), broadcast joins on dimension tables, and whole-stage codegen
  coverage.
* ``python scripts/dump_plans.py <tag> <query> [<query> ...]`` writes
  each named query's plan, built but not executed, to
  ``$PLAN_OUT_DIR/<query>_<tag>.txt`` — before/after evidence for a
  plan change.

A PLANS.md regeneration is comparable only with one made on the same
host with the same ``SPARK_GRAFT_CPUS``: AQE's broadcast build side,
whole-stage codegen stage ids and every ``hashpartitioning(..., N)``
width follow the core count and the run, so a diff against the
committed file on another host shows those lines moving even when no
plan changed.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1; an ``sf_dir``
     argument overrides it)
     PLAN_OUT_DIR       (default plans/r13)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etlbigdata_spark import workload  # noqa: E402
from etlbigdata_spark.plans import audit as plan_audit  # noqa: E402
from etlbigdata_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# one per plan shape; the rest of the workload reuses these shapes
PICKS = [
    ("q01_pricing_summary", "single-table agg: partial agg before shuffle, pushed shipdate filter"),
    ("q03_top_orders", "join+agg+topk: broadcast dims, TakeOrderedAndProject (no global sort)"),
    ("q05_region_revenue", "6-way star join: all dims broadcast, single lineitem scan"),
    ("q06_revenue_delta", "selective filter: all predicates pushed to parquet"),
    ("q17_small_quantity_revenue", "decorrelated avg subquery: broadcast re-join, no second lineitem shuffle"),
    ("q19_disjunctive_predicates", "CNF extraction: equi-join key pulled out of the OR, disjunction as filter"),
    ("q08_market_share", "7-way join into sum(CASE)/sum share: fixed-size dims broadcast-hinted, part/supplier strategy left to AQE"),
    ("q21_sole_failing_supplier", "double-distinct existence: one lineitem pass, two-level numeric HashAggregates (pair dedup + per-order counts; no object agg, no expand), broadcast supplier join"),
    ("b07_topk_group", "window top-k: single shuffle on the partition key, rank pushed into window"),
    ("b09_asof", "as-of join: union+window single-shuffle plan (no range cross-product)"),
    ("d03_minhash", "MinHash: explode→min-agg signature (map-side combine), banded equi self-join"),
    ("s01_cosine_topk", "similarity: Arrow BLAS matmul scorer (MapInPandas, no join, corpus unshuffled), per-batch lossless cut, top-k per query"),
    ("st03_watermark", "watermark cutoff: 1-row max broadcast into the scan filter, then hash agg"),
    ("q02_min_cost_supplier", "min-per-group join-back with the dim filter manually pushed below the offers agg (broadcast semi-join; Catalyst cannot cross the agg+join-back)"),
    ("q09_product_type_profit", "5-way join, 3-table profit expression: filtered part dim broadcast, lineitem⋈orders fact join left to AQE/sort-merge"),
    ("d07_incremental_dedup", "incremental dedup: batch signatures broadcast against a projection-banded index — corpus side shuffle-free up to the candidate join"),
    ("evt03_sessionize", "sessionization: ONE shuffle — per-session agg reuses the window's user_id hash partitioning"),
    ("b31_merge_upsert", "MERGE semantics: single full-outer shuffle join, update/insert/delete routed by presence markers"),
    ("b33_fuzzy_pairs", "fuzzy join: lossless length-band blocking → equi-join on block id + residual levenshtein, no nested-loop"),
    ("d08_containment_pairs", "containment dedup (round 6): same inverted-index core as d02 — hashed shingles, doc-freq guard, shuffled-hash self-join"),
    ("evt09_scd2_join", "point-in-time dimension join (round 6): as-of union+window plan, one shuffle on the key, no fact×interval theta join"),
    ("d10_duplicated_spans", "duplicated-span dedup (round 6): linear token-stream plan — doc-freq agg on hashed shingles, LeftSemi hit-marking, per-doc islands window; NO pair join"),
    ("d09_semantic_dedup", "semantic dedup (round 6): within-cell equi-join on the cluster id — the SemDeDup subquadratic trick; centroid argmax is map-side codegen"),
    ("b40_table_diff", "snapshot diff (round 6): ONE full-outer null-safe join, presence markers, struct value compare — the post-migration convergence check"),
]


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def dump_queries(spark, tag: str, names: list[str]) -> None:
    out_dir = os.environ.get("PLAN_OUT_DIR", "plans/r13")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = workload.QUERIES[name](spark, SF_DIR)
        plan = formatted(df)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = sum("Exchange" in n.name for n in plan_audit.walk(df))
        print(f"{name}: {len(plan.splitlines())} lines, {n_ex} Exchange -> {path}")


def dump_review(spark, sf_dir: str) -> None:
    lines = [
        "# PLANS — physical-plan review of representative queries",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}`. One query per",
        "plan shape; automatic checks summarize pushdown / pruning /",
        "join-strategy / codegen properties, full formatted plan follows.",
        "",
    ]
    for name, why in PICKS:
        df = workload.QUERIES[name](spark, sf_dir)
        # execute first so AQE finalizes the plan (join demotions, partition
        # coalescing, codegen annotations only exist on the final plan);
        # must be an action on THIS Dataset — df.write would spawn its own
        # QueryExecution and leave df's plan unfinalized
        df.collect()
        plan = formatted(df)
        lines.append(f"## {name}")
        lines.append(f"*{why}*")
        lines.append("")
        # library-backed (plans/audit.py): PLANS.md and the audit API can
        # never disagree about what was extracted; warnings are appended
        a = plan_audit.audit(df)
        lines.extend(a.lines() + [f"- WARNING: {w}" for w in a.warnings])
        lines.append("")
        lines.append("```")
        lines.append(plan.rstrip())
        lines.append("```")
        lines.append("")
        print(name, "done", flush=True)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print("wrote", out)


def main() -> None:
    spark = build_session(app_name="dump-plans")
    if len(sys.argv) > 2:
        dump_queries(spark, sys.argv[1], sys.argv[2:])
    else:
        dump_review(spark, sys.argv[1] if len(sys.argv) > 1 else SF_DIR)


if __name__ == "__main__":
    main()
