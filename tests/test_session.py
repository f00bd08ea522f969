"""Session-level behaviour that no single query shows: a long-lived
session that re-runs the same query shapes reuses its compiled
generated classes (``spark.sql.codegen.cache.maxEntries`` and
``spark.sql.codegen.useIdInClassName`` in ``session.build_session``),
and every Parquet file the engine writes takes the session's zstd codec
(``spark.sql.parquet.compression.codec``)."""

from __future__ import annotations

import os

import pytest

from etlbigdata_spark import workload
from etlbigdata_spark.benchutil import codegen_stats

# The wizard's 19 click steps and eight curation steps.  One cycle
# compiles far more generated classes than Spark's default cache of 100
# holds, so at the default every cycle evicts the classes the next one
# needs.  d02, t23 and s10 also need the class names without the stage
# number: AQE numbers whole-stage codegen stages in the order it creates
# query stages, which follows the order earlier stages finish, so with
# the number in the name a stage renumbered between passes misses the
# cache and compiles afresh.
_CYCLE = (
    "a01_csv_scan", "a06_union_all", "a07_fill_nulls", "a08_dedup",
    "a09_count", "a10_replace", "a11_filter_contains", "a12_transpose",
    "a13_split_merge", "a15_cast", "a16_join", "b01_sql",
    "b02_projection", "b03_general_filter", "b16_pivot", "b27_profile",
    "b34_dq_checks", "q06_revenue_delta", "b07_topk_group",
    "t20_c4_clean", "t21_chunking", "d03_minhash", "d10_duplicated_spans",
    "t14_surprisal", "d02_jaccard_pairs", "t23_packed_span_dedup",
    "s10_bm25_topk",
)

_CODEC = "spark.sql.parquet.compression.codec"


def test_session_carries_codegen_and_codec_defaults(spark):
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    assert spark.conf.get(_CODEC) == "zstd"


@pytest.mark.slow
def test_second_cycle_of_query_set_compiles_nothing(spark, sf_dir):
    def cycle() -> int:
        before, _ = codegen_stats(spark)
        for name in _CYCLE:
            workload.QUERIES[name](spark, sf_dir).toArrow()
        return codegen_stats(spark)[0] - before

    cycle()
    assert cycle() == 0


def _codecs(root) -> set[str]:
    """The compression codec of every column chunk of every Parquet file
    under ``root``, read from the file footers."""
    import pyarrow.parquet as pq

    out = set()
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(d, f)).metadata
                for g in range(meta.num_row_groups):
                    rg = meta.row_group(g)
                    out.update(rg.column(c).compression for c in range(rg.num_columns))
    assert out, f"no Parquet column chunks under {root}"
    return out


def test_engine_parquet_writers_store_zstd(spark, sf_dir, tmp_path):
    from etlbigdata_spark.functions import text as ftext
    from etlbigdata_spark.sources.writers import write_parquet
    from etlbigdata_spark.streaming import ops

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_parquet(orders, str(tmp_path / "sink"))
    assert _codecs(tmp_path / "sink") == {"ZSTD"}

    src = tmp_path / "src"
    orders.limit(100).write.parquet(str(src))
    stream = ops.read_file_stream(spark, str(src), orders.schema)
    ops.run_available_now(
        ops.write_stream_files(stream, str(tmp_path / "stream")), str(tmp_path / "ckpt")
    )
    assert spark.read.parquet(str(tmp_path / "stream")).count() == 100
    assert _codecs(tmp_path / "stream") == {"ZSTD"}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ftext.bm25_write_index(docs, str(tmp_path / "bm25"), n_buckets=4)
    assert _codecs(tmp_path / "bm25") == {"ZSTD"}
    ftext.release_cached()


def test_bm25_index_built_under_snappy_appends_and_probes_under_zstd(
    spark, sf_dir, tmp_path
):
    """An index written before the zstd default (snappy files) takes a
    zstd append, and probes identically to an index built under zstd
    alone: the reader picks the codec per column chunk."""
    from etlbigdata_spark.functions import text as ftext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = spark.createDataFrame(
        [(1, "fast table scan"), (2, "window group sort line")],
        "query_id int, query_text string",
    )
    mixed, zstd = str(tmp_path / "mixed"), str(tmp_path / "zstd")
    codec = spark.conf.get(_CODEC)
    spark.conf.set(_CODEC, "snappy")
    try:
        ftext.bm25_write_index(docs.filter("doc_id % 3 != 0"), mixed, n_buckets=8)
    finally:
        spark.conf.set(_CODEC, codec)
    assert _codecs(mixed) == {"SNAPPY"}
    ftext.bm25_append_index(docs.filter("doc_id % 3 == 0"), mixed)
    assert _codecs(f"{mixed}/postings") == {"SNAPPY", "ZSTD"}

    ftext.bm25_write_index(docs, zstd, n_buckets=8)
    got = sorted(map(tuple, ftext.bm25_probe_index(spark, mixed, queries, k=10).collect()))
    want = sorted(map(tuple, ftext.bm25_probe_index(spark, zstd, queries, k=10).collect()))
    assert got == want and len(got) > 0
    ftext.release_cached()
