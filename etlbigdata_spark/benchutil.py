"""Shared measurement plumbing for ``bench.py``, ``perfbench/``,
``scripts/measure_baseline.py`` and the tests (review r11: the
noisy-window threshold and the DuckDB pairing boilerplate were
hand-duplicated in three files — a recalibration must happen in ONE
place or the artifacts of record silently disagree on what counts as a
noisy window)."""

from __future__ import annotations

import os

# the ten oracle tables the driver pre-registers as DuckDB views
ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def noisy_start(load_start) -> bool:
    """Was the box ALREADY loaded when a measurement started?  Threshold
    = logical CPUs / 8, scaled by ``os.cpu_count()`` — the quantity
    loadavg is relative to, NOT the configured Spark parallelism
    (ADVICE r10) — and tightened from cores/4 after round-10's
    contaminated artifact of record read load 6.79 under the old wire
    yet inflated untouched queries 2-7x.  When ``os.cpu_count()``
    returns None (containers with unreadable affinity), fall back to 8
    logical CPUs — a /1 fallback would make the wire 0.125 and flag
    essentially every run (ADVICE r11)."""
    return bool(load_start[0] > (os.cpu_count() or 8) / 8)


def register_duck_views(con, sf_dir: str) -> None:
    """Register the oracle tables as DuckDB views over a testdata dir
    (the driver's exact naming contract).  The path is quoted into the
    SQL literal with single-quote doubling so a directory containing
    ``'`` cannot silently break view registration (ADVICE r11).

    ``{t}.parquet`` may be a single FILE (the driver's testdata) or a
    DIRECTORY of part files (the round-12 order-preserving multi-file
    fact layout, MULTIFILE_SF10_r11.json's ship rule — what
    ``write_parquet`` produces); directories register as a glob so both
    engines read the identical bytes in a pair."""
    safe_dir = sf_dir.replace("'", "''")
    for t in ORACLE_TABLES:
        target = f"{safe_dir}/{t}.parquet"
        if os.path.isdir(f"{sf_dir}/{t}.parquet"):
            target += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{target}')")


def codegen_stats(spark) -> tuple[int, float]:
    """``(compilations, compile_s)``: generated classes Janino compiled
    in this JVM so far and the seconds spent compiling them.  Spark
    compiles only on a miss in its generated-code cache, so the
    difference of two readings counts the misses between them.  The
    count is ``CodegenMetrics``' compilation-time histogram count; the
    seconds are ``CodeGenerator.compileTime`` (the histogram keeps only
    a sample of durations).  In local mode the tasks run in the driver
    JVM, so their compiles count too; on a cluster only the driver's
    do."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e9
