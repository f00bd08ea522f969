"""Session-level behaviour that no single query shows: a long-lived
session that re-runs the same query shapes reuses its compiled
generated classes (``spark.sql.codegen.cache.maxEntries`` and
``spark.sql.codegen.useIdInClassName`` in ``session.build_session``),
every Parquet file the engine writes takes the session's zstd codec
(``spark.sql.parquet.compression.codec``), and a fresh driver JVM starts
from the class-data-sharing archive the previous one trained."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from etlbigdata_spark import workload
from etlbigdata_spark.benchutil import codegen_stats
from etlbigdata_spark.session import _complete, build_session

_REPO = Path(__file__).resolve().parent.parent

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


def test_build_session_reads_cpu_count_per_call(spark, monkeypatch):
    """``SPARK_GRAFT_CPUS`` set after the package is imported sizes the
    next session's shuffle partitions, as it sizes its ``local[N]``."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    try:
        assert build_session().conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


# One fresh Python process and driver JVM; each argv item is a
# ``key=value`` Spark conf.
_FRESH_SESSION = """
import sys
from etlbigdata_spark.session import build_session
conf = dict(a.split("=", 1) for a in sys.argv[1:])
spark = build_session(master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.driver.memory": "1g", **conf})
print("rows", spark.range(5).count())
"""


def _fresh_session(cache: Path, cwd: Path, *conf: str) -> list[str]:
    """Stdout lines of one fresh session.  The JVM shares the pipe, so
    this returns only after the JVM has exited and dumped any archive."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=str(_REPO))
    proc = subprocess.run([sys.executable, "-c", _FRESH_SESSION, *conf], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.splitlines()


def test_class_archive_trains_serves_and_survives_damage(tmp_path):
    cache, cwd = tmp_path / "cache", tmp_path / "cwd"
    cds = cache / "etlbigdata_spark" / "cds"
    good = tmp_path / "good.jsa"
    cwd.mkdir()
    try:
        # the first fresh JVM finds no archive, trains one, and prints
        # nothing of its own after the program's last line
        assert _fresh_session(cache, cwd)[-1] == "rows 5"
        (dump,) = cds.glob("*.part")
        assert _complete(dump)

        # the next promotes the dump and maps Spark's classes from it
        log = tmp_path / "classes.log"
        assert _fresh_session(
            cache, cwd, f"spark.driver.extraJavaOptions=-Xlog:class+load=info:file={log}"
        )[-1] == "rows 5"
        assert not list(cds.glob("*.part"))
        (archive,) = cds.glob("*.jsa")
        assert "org.apache.spark.SparkContext source: shared objects file (top)" in log.read_text()
        shutil.copyfile(archive, good)
        archive.unlink()

        def zero_header(p):
            shutil.copyfile(good, p)
            with open(p, "r+b") as f:
                f.write(bytes(4096))

        def random_bytes(p):
            p.write_bytes(os.urandom(1 << 20))

        def truncated(p):
            with open(good, "rb") as src, open(p, "wb") as dst:
                dst.write(src.read(50_000_000))

        # the same truncation under a name that records its size passes
        # every check before the launch, and the JVM dies mapping it
        crashing = archive.with_name(archive.name.split("-")[0] + "-50000000.jsa")
        for damage, path in ((zero_header, archive), (random_bytes, archive),
                             (truncated, archive), (truncated, crashing)):
            for p in cds.glob("*.part"):
                p.unlink()
            damage(path)
            assert _fresh_session(cache, cwd)[-1] == "rows 5", damage.__name__
            assert not path.exists(), damage.__name__
        assert list(cds.glob("hs_err_pid*.log"))
        assert not list(cwd.iterdir())
    finally:  # a few 100+ MB archives
        shutil.rmtree(cache, ignore_errors=True)
        good.unlink(missing_ok=True)


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
