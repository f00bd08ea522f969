"""Plan-quality audit — the PLANS.md checks as a library API, and the
one reader of a physical plan.

``walk(df)`` yields every operator of ``df``'s executed plan once, read
off the JVM plan tree: an ``AdaptiveSparkPlan`` is unwrapped to its
current plan (the final plan once an action has run on ``df``), each
query stage to its plan, a cached relation's plan is entered once, and
subqueries are visited; a ``ReusedExchange`` is not entered. Each
``PlanNode`` carries the node name, its line of the plan tree, its scan
metadata (``PushedFilters``, ``PartitionFilters``, ``ReadSchema``,
``Bucketed``, ...) and its SQL metrics.

``audit(df)`` executes nothing; it counts, over the walked operators,
the properties that decide whether a query survives a 100 TB scale-up:
parquet filter pushdown, read-schema pruning, join strategies (and the
dangerous ones), whole-stage codegen coverage, exchange counts and
interpreted higher-order functions. ``lint(df)`` turns that into
actionable warnings — the checklist a reviewer (or CI) runs before
promoting a pipeline:

* a nested-loop / cartesian join that isn't an intentional tiny
  broadcast,
* full-width scans feeding narrow projections,
* interpreted higher-order-function lambdas on corpus-scale data.

The same audit drives ``scripts/dump_plans.py``, so PLANS.md and the
API can never disagree about what was measured.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import Iterator

from pyspark.sql import DataFrame


@dataclass
class PlanAudit:
    pushed_filter_scans: int
    total_scans: int
    read_schema_widths: list[int]
    broadcast_hash_joins: int
    sort_merge_joins: int
    shuffled_hash_joins: int
    nested_loop_joins: int
    cartesian_products: int
    codegen_spans: int
    shuffle_exchanges: int
    broadcast_exchanges: int
    aqe_coalesced_reads: int
    hof_folds: int = 0
    hof_nontrivial_lambdas: int = 0
    warnings: list[str] = field(default_factory=list)

    def lines(self) -> list[str]:
        """The PLANS.md bullet rendering."""
        return [
            f"- pushed-filter scans: {self.pushed_filter_scans}/{self.total_scans}",
            f"- read-schema widths: {self.read_schema_widths} (pruned, not full-table)",
            f"- joins: {self.broadcast_hash_joins} broadcast-hash, {self.sort_merge_joins} sort-merge",
            f"- whole-stage codegen spans: {self.codegen_spans}",
            f"- exchanges: {self.shuffle_exchanges} shuffle, {self.broadcast_exchanges} broadcast; "
            f"{self.aqe_coalesced_reads} AQE-coalesced reads",
        ]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def _scala_map(m) -> dict:
    return {k: m.apply(k) for k in _seq(m.keys().toSeq())}


class PlanNode:
    """One physical operator: ``name`` is its node name
    (``BroadcastHashJoin``, ``Exchange``, ``Scan parquet ``, ...),
    ``text`` its line of the plan tree (the operator and its arguments),
    ``meta`` its scan metadata (empty off data-source scans),
    ``metrics`` its SQL metric values, read when first asked for, and
    ``jnode`` the JVM operator itself."""

    def __init__(self, jnode, name: str, text: str, meta: dict[str, str]):
        self.jnode, self.name, self.text, self.meta = jnode, name, text, meta

    @cached_property
    def metrics(self) -> dict[str, int]:
        return {k: m.value() for k, m in _scala_map(self.jnode.metrics()).items()}


def walk(df: DataFrame) -> Iterator[PlanNode]:
    """Every operator of ``df``'s executed plan once, parents before
    children. Runs nothing: the AQE plan is final, and metrics are
    filled, only after an action has run on this same ``df``."""
    jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
    scan_cls = jvm.java.lang.Class.forName("org.apache.spark.sql.execution.DataSourceScanExec")
    max_fields = jvm.org.apache.spark.sql.internal.SQLConf.get().maxToStringFields()
    entered: set[int] = set()  # cached plans already walked
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan" or name.endswith("QueryStage"):
            todo.append(node.executedPlan() if name == "AdaptiveSparkPlan" else node.plan())
            continue
        kids = _seq(node.children()) + _seq(node.subqueries())
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            if (key := jvm.System.identityHashCode(cached)) not in entered:
                entered.add(key)
                kids.append(cached)
        meta = _scala_map(node.metadata()) if scan_cls.isInstance(node) else {}
        yield PlanNode(node, name, node.verboseString(max_fields), meta)
        todo.extend(reversed(kids))


def scan_rows(df: DataFrame) -> int:
    """Rows emitted by ``df``'s data-source scans (after row-group and
    page skipping, before any Filter), from their ``numOutputRows``
    metrics; run an action on ``df`` first."""
    rows = [n.metrics["numOutputRows"] for n in walk(df) if n.meta]
    if not rows:
        raise ValueError("no data-source scan in the plan")
    return sum(rows)


def _hofs(node: PlanNode, lambda_pattern) -> tuple[int, int]:
    """(``aggregate`` folds, lambdas whose body is a function call)
    among ``node``'s expressions."""
    folds = calls = 0
    todo = [e for e in _seq(node.jnode.expressions()) if e.containsPattern(lambda_pattern)]
    while todo:
        e = todo.pop()
        kind = e.getClass().getSimpleName()
        if kind == "ArrayAggregate":
            folds += 1
        elif kind == "LambdaFunction":
            body = e.function()
            calls += body.toString().startswith(body.prettyName() + "(")
        todo.extend(c for c in _seq(e.children()) if c.containsPattern(lambda_pattern))
    return folds, calls


def audit(df: DataFrame) -> PlanAudit:
    """Extract scale-relevant properties from ``df``'s physical plan
    (no execution; AQE-final operators when an action has run)."""
    jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
    lambda_pattern = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.LAMBDA_FUNCTION()
    data_type = jvm.org.apache.spark.sql.types.DataType
    nodes = list(walk(df))
    names = [n.name.removesuffix("(skew=true)") for n in nodes]
    scans = [n.meta for n in nodes if "ReadSchema" in n.meta]
    # Higher-order array functions evaluate their lambdas INTERPRETED —
    # one closure call per element — while everything around them is
    # whole-stage codegen. This repo has measured the gap twice:
    # explode+codegen agg beat the per-row HOF minhash plan 9× at sf1
    # and the two-step shingle plan beats the fused-lambda one 2×
    # (functions/dedup.py:80 and the rejection note in
    # minhash_signatures). Folds (`aggregate`) are O(elements) always;
    # a transform/filter lambda is counted non-trivial when its body is
    # a nested function call (array_join(slice(...)) etc.) rather than
    # a bare comparison/arithmetic on the element.
    hofs = [_hofs(n, lambda_pattern) for n in nodes if n.jnode.containsPattern(lambda_pattern)]
    a = PlanAudit(
        pushed_filter_scans=sum(1 for m in scans if m.get("PushedFilters", "[]") != "[]"),
        total_scans=len(scans),
        read_schema_widths=[data_type.fromDDL(m["ReadSchema"]).length() for m in scans],
        broadcast_hash_joins=names.count("BroadcastHashJoin"),
        sort_merge_joins=names.count("SortMergeJoin"),
        shuffled_hash_joins=names.count("ShuffledHashJoin"),
        nested_loop_joins=names.count("BroadcastNestedLoopJoin"),
        cartesian_products=names.count("CartesianProduct"),
        codegen_spans=sum(1 for n in names if n.startswith("WholeStageCodegen")),
        shuffle_exchanges=names.count("Exchange"),
        broadcast_exchanges=names.count("BroadcastExchange"),
        aqe_coalesced_reads=names.count("AQEShuffleRead"),
        hof_folds=sum(f for f, _ in hofs),
        hof_nontrivial_lambdas=sum(c for _, c in hofs),
    )
    if a.cartesian_products:
        a.warnings.append(
            f"{a.cartesian_products} CartesianProduct node(s) — quadratic at scale; "
            "add an equi-condition or broadcast a pre-aggregated side"
        )
    if a.nested_loop_joins:
        a.warnings.append(
            f"{a.nested_loop_joins} BroadcastNestedLoopJoin node(s) — fine for a "
            "1-row/tiny broadcast (scalar subquery, theta over aggregates), "
            "quadratic otherwise"
        )
    wide = [w for w in a.read_schema_widths if w > 12]
    if wide:
        a.warnings.append(
            f"scan(s) reading {wide} columns — check column pruning if the query "
            "projects fewer"
        )
    if a.hof_folds:
        a.warnings.append(
            f"[hof] {a.hof_folds} higher-order aggregate() fold(s) — O(elements) "
            "interpreted closure calls per row (this repo measured explode+"
            "codegen agg 2-9x faster); keep only as cross-engine oracle "
            "apparatus or on contractually tiny arrays"
        )
    if a.hof_nontrivial_lambdas:
        a.warnings.append(
            f"[hof] {a.hof_nontrivial_lambdas} transform/filter lambda(s) doing "
            "nested function calls per element — interpreted, not codegen; fine "
            "for small bounded arrays or streaming projections where the batch "
            "explode plan cannot run (minhash_signature_col's documented trade), "
            "move corpus-scale work to explode + codegen"
        )
    return a


def lint(df: DataFrame, allow_hofs: bool = False) -> list[str]:
    """Just the warnings (empty list = nothing suspicious).

    ``allow_hofs=True`` suppresses the interpreted-HOF rules for plans
    where the trade is deliberate — streaming per-row projections that
    cannot run an explode+groupBy in append mode, or lambdas over
    contractually tiny arrays (a 5-language score map).
    """
    warns = audit(df).warnings
    if allow_hofs:
        warns = [w for w in warns if not w.startswith("[hof]")]
    return warns
