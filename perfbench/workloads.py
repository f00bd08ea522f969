"""The benchmark's workloads: which steps run, on which fixture, and how
each step calls into the package.

A query step is one ``workload.QUERIES`` entry: build the DataFrame,
then fetch it with ``toArrow`` (the Arrow fetch a downstream reader
consumes).  The ETL steps are the reference's Extract → Transform →
Load through ``sources.readers``, ``plans.pipeline``,
``sources.writers`` and ``streaming.ops``, then a read-back.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from pathlib import Path

# Tables each query step scans (from the query bodies); a step's input
# rows are the rows of these tables.
WORKBENCH = {
    "a01_csv_scan": ["region"], "a06_union_all": ["orders"],
    "a07_fill_nulls": ["customer"], "a08_dedup": ["lineitem"],
    "a09_count": ["lineitem"], "a10_replace": ["orders"],
    "a11_filter_contains": ["part"], "a12_transpose": ["region"],
    "a13_split_merge": ["part"], "a15_cast": ["lineitem"],
    "a16_join": ["customer", "orders"], "b01_sql": ["orders"],
    "b02_projection": ["customer"], "b03_general_filter": ["orders"],
    "b16_pivot": ["lineitem"], "b27_profile": ["orders"],
    "b34_dq_checks": ["orders"], "q06_revenue_delta": ["lineitem"],
    "b07_topk_group": ["orders"],
}
CURATION = {
    name: ["documents"] for name in (
        "t20_c4_clean", "t21_chunking", "d02_jaccard_pairs", "d03_minhash",
        "d10_duplicated_spans", "t23_packed_span_dedup", "s10_bm25_topk",
        "t14_surprisal",
    )
}
EXTRACT_FILES = ("orders.csv", "orders_stream")
ETL_STEPS = {
    "extract": ["orders.csv", "lineitem", "customer"],
    "transform": [],
    "load": [],
    "stream_append": ["orders_stream"],
    "read_back": [],
}


@dataclass
class Workload:
    name: str
    sf: float
    steps: dict[str, list[str]]
    why: str
    # steps with no oracle twin: checked against the digest pinned by
    # the first run on the fixture and for identical output across passes
    pinned: tuple[str, ...] = field(default=())

    @property
    def tables(self) -> list[str]:
        """Fixture tables the steps read, besides the ETL extract files."""
        return sorted({t for ts in self.steps.values() for t in ts} - set(EXTRACT_FILES))

    @property
    def has_etl(self) -> bool:
        return any(name in ETL_STEPS for name in self.steps)


WORKLOADS = {
    "etl_wizard": Workload(
        "etl_wizard", 0.05, {**WORKBENCH, **ETL_STEPS},
        "The reference's own wizard: 19 click-sized transform steps fetched like UI previews, "
        "then Extract-Transform-Load with the only writes and a streaming append.",
    ),
    "curation": Workload(
        "curation", 0.02, CURATION,
        "The LLM-data path: functions.text and functions.dedup expand tokens and shingles "
        "and shuffle them, with large plan construction and little relational join work.",
        pinned=("d03_minhash",),
    ),
}

# extract schema: keys typed, the dirty columns read as text and cast
# by the pipeline (null on error), as the reference's cast step does
CSV_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice STRING, o_orderdate STRING, o_orderpriority STRING"
)
CLEAN_OPS = [
    {"op": "dedup"},
    {"op": "cast_column", "column": "o_totalprice", "type_name": "double"},
    {"op": "cast_column", "column": "o_orderdate", "type_name": "date"},
    {"op": "fill_nulls", "text_fill": "UNKNOWN", "numeric_fill": 0},
    {"op": "filter", "expr": "o_totalprice > 0"},
    {"op": "with_column", "name": "o_year", "expr": "year(o_orderdate)"},
    {"op": "join", "right": "customer", "left_on": "o_custkey", "right_on": "c_custkey"},
]
OUT_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority", "o_year", "c_mktsegment", "c_nationkey", "n_lines", "gross",
]


class EtlPass:
    """One Extract → Transform → Load → stream append → read-back pass.
    Each method is one step: it returns the DataFrame its action ran on
    (or None) and the fetched Arrow table (or None)."""

    def __init__(self, spark, fixture: Path, out: Path, tracer) -> None:
        self.spark, self.fixture, self.out, self.tr = spark, fixture, out, tracer
        self.facts = out / "order_facts"
        self.appended = out / "orders_appended"
        self.query = None
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)

    def extract(self):
        from etlbigdata_spark.sources import readers

        with self.tr.span("build"), self.tr.span("sources.read"):
            self.orders = readers.read_csv(
                self.spark, str(self.fixture / "extract" / "orders.csv"), schema=CSV_SCHEMA
            )
            self.lineitem = readers.read_parquet(self.spark, str(self.fixture / "lineitem.parquet"))
            self.customer = readers.read_parquet(self.spark, str(self.fixture / "customer.parquet"))
        return None, None

    def transform(self):
        from pyspark.sql import functions as F

        from etlbigdata_spark.plans.pipeline import Pipeline

        with self.tr.span("build"):
            lines = self.lineitem.groupBy("l_orderkey").agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("gross"),
            )
            pipeline = Pipeline(CLEAN_OPS + [
                {"op": "join", "right": "lines", "left_on": "o_orderkey", "right_on": "l_orderkey"},
                {"op": "select", "columns": OUT_COLUMNS},
            ])
            self.facts_df = pipeline.apply(
                self.orders, catalog={"customer": self.customer, "lines": lines}
            )
        return None, None

    def load(self):
        from etlbigdata_spark.sources import writers

        with self.tr.span("action"), self.tr.span("sources.write"):
            writers.write_parquet(self.facts_df, str(self.facts), partition_by=["o_year"])
        return None, None

    def stream_append(self):
        from etlbigdata_spark.plans.pipeline import Pipeline
        from etlbigdata_spark.sources import readers
        from etlbigdata_spark.streaming import ops

        src = str(self.fixture / "extract" / "orders_stream")
        with self.tr.span("build"):
            schema = readers.read_parquet(self.spark, src).schema
            with self.tr.span("streaming.build"):
                stream = ops.read_file_stream(self.spark, src, schema)
                cleaned = Pipeline(CLEAN_OPS + [
                    {"op": "with_column", "name": "n_lines", "expr": "CAST(0 AS BIGINT)"},
                    {"op": "with_column", "name": "gross", "expr": "CAST(0 AS DECIMAL(28,4))"},
                    {"op": "select", "columns": OUT_COLUMNS},
                ]).apply(stream, catalog={"customer": self.customer})
                writer = ops.write_stream_files(cleaned, str(self.appended)).partitionBy("o_year")
        with self.tr.span("action"), self.tr.span("streaming.drain"):
            self.query = ops.run_available_now(writer, str(self.out / "checkpoint"))
        return None, None

    def read_back(self):
        from pyspark.sql import functions as F

        from etlbigdata_spark.sources import readers

        with self.tr.span("build"):
            with self.tr.span("sources.read"):
                facts = readers.read_parquet(self.spark, str(self.facts))
                appended = readers.read_parquet(self.spark, str(self.appended))
            df = facts.unionByName(appended).groupBy("o_year", "c_mktsegment").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total_price"),
                F.sum("n_lines").alias("n_lines"),
                F.sum("gross").cast("double").alias("gross"),
            )
        with self.tr.span("action"):
            tbl = df.toArrow()
        return df, tbl

    def written(self) -> tuple[int, int]:
        """(parquet files, bytes) committed by the load and the stream."""
        files = [p for d in (self.facts, self.appended) for p in d.rglob("*.parquet")]
        return len(files), sum(p.stat().st_size for p in files)


def input_files(fixture: Path, tables: list[str]) -> list[Path]:
    out = []
    for t in tables:
        p = fixture / "extract" / t if t in EXTRACT_FILES else fixture / f"{t}.parquet"
        out.extend([p] if p.is_file() else sorted(p.glob("*.parquet")))
    return out
