"""SparkSession factory.

The reference re-created its session lazily per Streamlit rerun
(``/root/reference/simple_etl.py:159``) and shuttled every table through
pandas per click.  Here the session is built once, tuned for a
multi-executor deployment, and all data stays resident as lazy DataFrames.

Defaults are chosen for the 100 TB design point and scale down fine to
``local[N]``:

* AQE on (runtime join-strategy switch, skew-join splitting, shuffle
  coalescing) — this is the knob that replaces hand-tuned plans at scale.
* Arrow on — every pandas/driver edge (previews, pandas UDFs) is batched.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the initial number mostly irrelevant.
* UTC session timezone so timestamp semantics match the oracle engines.
* A generated-code cache sized to the declared query set, so a long-lived
  session that re-runs the same query shapes (wizard clicks, a pipeline
  service) reuses its compiled classes instead of recompiling them, and
  generated class names without the AQE stage number, so a renumbered
  stage still hits that cache.
* zstd for every Parquet file the engine writes: about a fifth fewer
  stored bytes than Spark's snappy default, for every later scan to read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "etlbigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master=None`` defers to an existing session / spark-submit config so
    the same code runs unchanged on a cluster; tests pass ``local[N]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")

    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # 128 MiB input splits: big enough to amortize task overhead,
        # small enough that a 100 TB scan still yields ~800k tasks that
        # schedule incrementally.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Spark's default broadcast threshold. Rounds 1-3 overrode this
        # to 64m "so dims broadcast", but dims are ≪10m anyway (and the
        # star-join operators hint them explicitly); what 64m actually
        # did was force MID-SIZE runtime builds (e.g. a 300k-row
        # orders⋈customer intermediate) through driver-side broadcast
        # construction — measured 2-4× slowdowns on q03/q04/q18/q21 at
        # the sf1 scale-up (BASELINE.md growth table). At the cluster
        # design point the same logic holds harder: a 64 MB build × 1000
        # executors is 64 GB of fan-out traffic; 10m is the accepted
        # trade-off and AQE still upgrades anything that measures small
        # at runtime.
        "spark.sql.autoBroadcastJoinThreshold": "10m",
        "spark.sql.parquet.filterPushdown": "true",
        # Compiled generated classes (whole-stage code on the driver,
        # projections and predicates inside tasks) live in an LRU cache
        # of 100 entries by default.  One warm pass of the benchmark's
        # curation workload compiles 228 classes and one of etl_wizard
        # 153, and the whole declared query set ~1,880, so a fixed cycle
        # of steps evicted each class before its reuse and every pass
        # recompiled them (0.8-2.7 s of compile time per pass at
        # sf0.02-0.05).  4096 is about twice the whole set; at the
        # 2.7-3.7 KB mean bytecode size measured per class, a full
        # cache holds 11-15 MB.  The conf is static: the cache is sized
        # once per JVM, on its first compile, so it takes effect only in
        # a fresh JVM.  Verified in local mode only, where the driver and
        # the tasks share one cache.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # Generated class names carry the whole-stage codegen stage
        # number by default.  AQE numbers those stages in the order query
        # stages finish, so a stage renumbered between passes (d02, t23,
        # s10) misses the cache above and compiles afresh.  Without the
        # id a warm pass compiles nothing.  The cost: stack traces lose
        # the stage number in generated class names.
        "spark.sql.codegen.useIdInClassName": "false",
        # Every Parquet file the engine writes (sinks, compaction, the
        # streaming file sink, the index writers) takes this codec; this
        # Spark already writes ORC with zstd.  At the default level zstd
        # stores about a fifth fewer bytes than snappy for the same
        # columns (sf1 lineitem 106 -> 85 MB on 4 cores), and the write
        # and a full scan take about as long.  The first zstd write in a
        # JVM loads the zstd-jni native library.
        # Readers detect the codec per column chunk, so files written
        # under snappy stay readable and appendable.
        "spark.sql.parquet.compression.codec": "zstd",
        # Spark 4 ICU case mappings: the ICU class's static init costs ~30 s
        # of CPU on first use (com.ibm.icu CaseMapImpl tables). JVM case
        # mappings are correct for our ASCII-dominant workloads and skip it.
        "spark.sql.icu.caseMappings.enabled": "false",
        # timestamp[ns] parquet columns (events.ts) read as long nanos
        # instead of erroring; reconstructed to timestamp at the read
        # site (workload.load, which also sets this conf for foreign
        # sessions).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # PySpark 4 captures a Python call-site origin for EVERY
        # DataFrame/Column API call (a stack inspection plus an extra
        # py4j round trip each) so error messages can point at user
        # code. On expression-heavy plans this is the dominant plan-
        # CONSTRUCTION cost — measured round 12 at sf0.1: d03 plan
        # build 1.4 s -> 0.5 s, t23 1.4 s -> 0.9 s with it off, every
        # query's construction shrinks. Driver-side planning cost is
        # paid per query regardless of data size (guide §7.3), so this
        # is a win at any scale; the only loss is the call-site line in
        # error messages. NOTE (ADVICE r12): pyspark caches this flag in
        # a process-global on first use (pyspark.errors.utils
        # ._enable_debugging_cache), so re-enabling needs a fresh Python
        # process or resetting that cache — a later per-session conf
        # change alone is a silent no-op.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
