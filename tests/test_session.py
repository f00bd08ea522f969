"""Session-level behaviour that no single query shows: a long-lived
session that re-runs the same query shapes reuses its compiled
generated classes (``spark.sql.codegen.cache.maxEntries`` in
``session.build_session``)."""

from __future__ import annotations

import pytest

from etlbigdata_spark import workload
from etlbigdata_spark.benchutil import codegen_stats

# The wizard's 19 click steps and five curation steps.  One cycle
# compiles far more generated classes than Spark's default cache of 100
# holds, so at the default every cycle evicts the classes the next one
# needs.  d02, t23 and s10 are left out: on some later passes they
# compile a few classes afresh whatever the cache size.  AQE numbers
# whole-stage codegen stages in the order it creates query stages,
# which follows the order earlier stages finish, and the number is part
# of the generated class name (``spark.sql.codegen.useIdInClassName``),
# so a stage renumbered between passes misses the cache.
_CYCLE = (
    "a01_csv_scan", "a06_union_all", "a07_fill_nulls", "a08_dedup",
    "a09_count", "a10_replace", "a11_filter_contains", "a12_transpose",
    "a13_split_merge", "a15_cast", "a16_join", "b01_sql",
    "b02_projection", "b03_general_filter", "b16_pivot", "b27_profile",
    "b34_dq_checks", "q06_revenue_delta", "b07_topk_group",
    "t20_c4_clean", "t21_chunking", "d03_minhash", "d10_duplicated_spans",
    "t14_surprisal",
)


@pytest.mark.slow
def test_second_cycle_of_query_set_compiles_nothing(spark, sf_dir):
    def cycle() -> int:
        before, _ = codegen_stats(spark)
        for name in _CYCLE:
            workload.QUERIES[name](spark, sf_dir).toArrow()
        return codegen_stats(spark)[0] - before

    cycle()
    assert cycle() == 0
