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
* A class-data-sharing (CDS) archive for the driver JVM, when this
  process launches it.  A fresh driver otherwise parses and verifies
  about 11,000 Spark classes from the jars before its first query; the
  archive holds them pre-parsed, memory-mapped, so session start takes
  about half as long.  It lives under
  ``${XDG_CACHE_HOME:-~/.cache}/etlbigdata_spark/cds/``, keyed on the
  ``java`` binary and the Spark jars, so it outlives any checkout.  The
  first fresh JVM that finds none trains it: that JVM starts a few
  seconds slower, and JDK 17 dumps the classes the run loaded when it
  exits, which takes about 10 s and 140-225 MB of disk.  The next
  launch promotes the dump only if it is complete.  A missing, damaged
  or mismatched archive means a normal start, and a launch that still
  fails with the archive deletes it and launches once more without it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
from pathlib import Path

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_JAVA_OPTS = "spark.driver.defaultJavaOptions"
# JDK 17 writes a dynamic archive's header, which starts with this magic
# number, after every region: a dump cut short reads zeros at offset 0.
_CDS_MAGIC = 0xF00BABA8
# A training dump is written within seconds; an incomplete one this old
# was cut short.
_ABANDONED_DUMP_S = 120.0


class _ClassArchive:
    """The driver JVM's class-data-sharing archive for this Java and
    Spark install: the flags a launch passes, and the cleanup after a
    launch that fails with them.

    Final archives are named ``<key>-<bytes>.jsa``; the size in the name
    catches a truncated file, which the JVM would map and crash on
    (SIGBUS) instead of falling back.  Training dumps are named
    ``<key>.<pid>.part`` until a later launch promotes them."""

    def __init__(self, root: Path, key: str, conf_dir: Path) -> None:
        self.root, self.key, self.conf_dir = root, key, conf_dir
        self.archive = self._tidy()

    @classmethod
    def for_launch(cls) -> _ClassArchive | None:
        """None when the launch cannot use an archive: the class path
        holds a non-empty directory (JDK 17 refuses to dump one) or more
        than the Spark jars, or no cache directory is writable."""
        spark_home = Path(_find_spark_home())
        java_home = os.environ.get("JAVA_HOME") or None  # as bin/spark-class picks it
        java = shutil.which("java", path=java_home and os.path.join(java_home, "bin"))
        default_conf = spark_home / "conf"
        if (
            java is None
            or not (spark_home / "jars").is_dir()
            or any(os.environ.get(v) for v in (
                "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"))
            or (default_conf.is_dir()
                and not all(f.endswith(".template") for f in os.listdir(default_conf)))
        ):
            return None
        root = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
        root = root / "etlbigdata_spark" / "cds"
        conf_dir = root / "conf"
        try:
            conf_dir.mkdir(parents=True, exist_ok=True)
        except OSError:
            return None
        if not os.access(root, os.W_OK):
            return None
        java = os.path.realpath(java)
        st = os.stat(java)
        h = hashlib.sha256(repr((java, st.st_size, st.st_mtime_ns, str(spark_home),
                                 str(conf_dir))).encode())
        for jar in sorted(os.scandir(spark_home / "jars"), key=lambda e: e.name):
            st = jar.stat()
            h.update(repr((jar.name, st.st_size, st.st_mtime_ns)).encode())
        return cls(root, h.hexdigest()[:20], conf_dir)

    def _tidy(self) -> Path | None:
        """Keep one sound archive, promote a complete training dump when
        there is none, and delete damaged finals and abandoned dumps.
        Another process may be tidying too, so a file can vanish at any
        step."""
        found = None
        for p in self.root.glob(f"{self.key}-*.jsa"):
            try:
                size = p.stem.rsplit("-", 1)[1]
                if found is None and _complete(p) and str(p.stat().st_size) == size:
                    found = p
                else:
                    p.unlink()
            except OSError:
                pass
        for p in self.root.glob(f"{self.key}.*.part"):
            try:
                if _complete(p):
                    if found is None:
                        found = self.root / f"{self.key}-{p.stat().st_size}.jsa"
                        os.replace(p, found)
                    else:
                        p.unlink()
                elif time.time() - p.stat().st_mtime > _ABANDONED_DUMP_S:
                    p.unlink()
            except OSError:
                pass
        return found

    def flags(self) -> str:
        # JDK 17 prints CDS warnings (e.g. signed jars skipped at dump
        # time) on stdout, where callers print their own results.
        if self.archive is None:
            return (f"-Xlog:cds*=off "
                    f"-XX:ArchiveClassesAtExit={self.root}/{self.key}.{os.getpid()}.part")
        # A damaged archive that passes the checks in _tidy can still
        # crash the JVM as it maps it: its crash log goes to the cache.
        return (f"-Xlog:cds*=off -XX:SharedArchiveFile={self.archive} -Xshare:auto "
                f"-XX:ErrorFile={self.root}/hs_err_pid%p.log -XX:-CreateCoredumpOnCrash")

    def launch(self, builder: SparkSession.Builder, own_opts: str | None) -> SparkSession:
        """``builder.getOrCreate()`` with the archive flags appended to
        the caller's own default Java options, and the empty conf dir
        in place of Spark's template-only one, for this launch only."""
        os.environ["SPARK_CONF_DIR"] = str(self.conf_dir)
        try:
            builder.config(_JAVA_OPTS, f"{own_opts or ''} {self.flags()}".strip())
            try:
                return builder.getOrCreate()
            except PySparkRuntimeError:
                if self.archive is not None:
                    self.archive.unlink(missing_ok=True)
            builder.config(_JAVA_OPTS, own_opts or "")
            return builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]


def _complete(path: Path) -> bool:
    with open(path, "rb") as f:
        return int.from_bytes(f.read(4), sys.byteorder) == _CDS_MAGIC


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

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
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
        # A sort-merge join becomes a shuffled-hash join at runtime when
        # every post-shuffle partition of its build side measures at most
        # this many (compressed shuffle) bytes.  It replaces per-query
        # row-count probes with the sizes AQE measures: a build stays
        # hash-join sized, and a larger or skewed one sorts and spills
        # instead.  Spark ignores it below advisoryPartitionSizeInBytes,
        # so the two move together.  16 MB, not Spark's 64 MB advisory
        # size: d02's shingle shuffles measure 12-13 bytes per (id, hash)
        # row at sf1, so 16 MB is 1.3-1.4 M rows per hash build, the size
        # the round-9 sizing kept builds to after 2.3 M rows per task
        # failed at sf30; 64 MB would admit over 5 M.  The advisory size
        # also caps AQE's coalesced partitions, at 16 MB.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16MB",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "16MB",
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
    # no gateway yet, and none to join: getOrCreate launches the JVM
    launches_jvm = "PYSPARK_GATEWAY_PORT" not in os.environ and SparkContext._gateway is None
    archive = _ClassArchive.for_launch() if launches_jvm else None
    if archive is None:
        spark = builder.getOrCreate()
    else:
        spark = archive.launch(builder, conf.get(_JAVA_OPTS))
    spark.sparkContext.setLogLevel("WARN")
    return spark
