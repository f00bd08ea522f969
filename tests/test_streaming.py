"""Structured Streaming replay goldens (SURVEY §2 B19-B22, §5.2 item 4).

Deterministic micro-batch replay: synthetic event files written one per
batch, consumed with maxFilesPerTrigger=1 under an availableNow trigger
into a memory sink. Shuffle partitions are pinned by the session fixture
(SURVEY §7 hard-parts item 3).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etlbigdata_spark.plans.audit import walk
from etlbigdata_spark.streaming import ops

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
    ]
)


def _ts(h: int, m: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m, 0)


def _write_batch(path, rows) -> None:
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])
    pq.write_table(pa.Table.from_pandas(pdf, schema=_ARROW_SCHEMA), path)


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    _write_batch(
        d / "batch_000.parquet",
        [
            (1, _ts(10, 0), 1, 1.0),
            (2, _ts(10, 5), 1, 2.0),
            (3, _ts(11, 0), 2, 3.0),
        ],
    )
    _write_batch(
        d / "batch_001.parquet",
        [
            (4, _ts(10, 2), 1, 4.0),  # late: window 10:00 closed by watermark
            (5, _ts(11, 5), 2, 5.0),
            (5, _ts(11, 5), 2, 5.0),  # exact duplicate for the dedup test
        ],
    )
    # the file source orders by modification time: pin mtimes far apart so
    # batch_000 is deterministically the first micro-batch
    import os
    import time

    now = time.time()
    os.utime(d / "batch_000.parquet", (now - 100, now - 100))
    os.utime(d / "batch_001.parquet", (now, now))
    return str(d)


def _replay(writer, tmp_path, name):
    ops.run_available_now(writer, checkpoint_dir=str(tmp_path / f"ckpt_{name}"))


def test_tumbling_replay_matches_batch(spark, stream_dir, tmp_path):
    """B19+B20 — windowed agg over file replay == same agg in batch mode."""
    stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA)
    agg = ops.tumbling_counts(stream, "ts", "10 minutes", keys=["user_id"], value_col="value")
    _replay(ops.write_stream_memory(agg, "tumbling_golden", "complete"), tmp_path, "tumble")

    got = {
        (r["window_start"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in spark.table("tumbling_golden").collect()
    }
    batch = ops.tumbling_counts(
        spark.read.schema(EVENT_SCHEMA).parquet(stream_dir), "ts", "10 minutes",
        keys=["user_id"], value_col="value",
    )
    want = {
        (r["window_start"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want
    assert got[(_ts(10, 0), 1)] == (3, 7.0)  # complete mode: late row included


def test_sliding_window_counts(spark, stream_dir, tmp_path):
    """B20 — sliding windows: each event lands in window/slide windows."""
    stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA)
    agg = ops.sliding_counts(stream, "ts", "20 minutes", "10 minutes")
    _replay(ops.write_stream_memory(agg, "sliding_golden", "complete"), tmp_path, "slide")
    rows = {r["window_start"]: r["n_events"] for r in spark.table("sliding_golden").collect()}
    # event at 10:00 belongs to [9:50,10:10) and [10:00,10:20)
    assert rows[_ts(9, 50)] == 1 + 2  # 10:00 + 10:02,10:05 in [9:50,10:10)
    assert rows[_ts(10, 0)] == 3  # 10:00, 10:02, 10:05


def test_watermark_drops_late_rows(spark, tmp_path):
    """B21 — append mode + watermark. The watermark advances one batch
    behind the data that sets it (observed on this Spark: the drop fires
    once the window's state is evicted — the SURVEY §7 'off-by-one-batch'
    pitfall), so the late row arrives two batches after the 11:00 event:

    batch 0: 10:00, 10:05, 11:00  → watermark after commit = 10:50
    batch 1: 11:05                → 10:00-window evicted & emitted (n=2)
    batch 2: 10:02 (late → DROPPED), 11:07
    """
    d = tmp_path / "late_stream"
    d.mkdir()
    _write_batch(d / "b0.parquet", [(1, _ts(10, 0), 1, 1.0), (2, _ts(10, 5), 1, 2.0), (3, _ts(11, 0), 2, 3.0)])
    _write_batch(d / "b1.parquet", [(4, _ts(11, 5), 2, 4.0)])
    _write_batch(d / "b2.parquet", [(5, _ts(10, 2), 1, 5.0), (6, _ts(11, 7), 2, 6.0)])
    import os
    import time

    now = time.time()
    for i, f in enumerate(["b0", "b1", "b2"]):
        os.utime(d / f"{f}.parquet", (now - 100 + i * 10,) * 2)

    stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
    agg = ops.tumbling_counts(stream, "ts", "10 minutes", watermark="10 minutes")
    _replay(ops.write_stream_memory(agg, "late_golden", "append"), tmp_path, "late")
    rows = {r["window_start"]: r["n_events"] for r in spark.table("late_golden").collect()}
    assert rows == {_ts(10, 0): 2}  # late 10:02 dropped; 11:00 window still open


def test_streaming_dedup(spark, stream_dir, tmp_path):
    """B22 — streaming dropDuplicates with watermark-bounded state."""
    stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA)
    deduped = ops.streaming_dedup(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    _replay(ops.write_stream_memory(deduped, "dedup_golden", "append"), tmp_path, "dedup")
    ids = sorted(r["event_id"] for r in spark.table("dedup_golden").collect())
    assert ids == [1, 2, 3, 4, 5]  # duplicate event 5 collapsed


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """B22 — dropDuplicatesWithinWatermark: the at-least-once-source
    shape where a redelivered event carries a DIFFERENT timestamp (so
    keyed-on-ts dedup would keep both); dedup on the business key alone
    with watermark-bounded state collapses it."""
    d = tmp_path / "redeliver"
    d.mkdir()
    _write_batch(
        d / "b0.parquet",
        [
            (1, _ts(10, 0), 1, 1.0),
            (1, _ts(10, 1), 1, 1.0),   # redelivery, ts drifted 1 min
            (2, _ts(10, 2), 2, 2.0),
        ],
    )
    stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
    deduped = ops.streaming_dedup_within_watermark(
        stream, ["event_id"], "ts", watermark="1 hour"
    )
    _replay(ops.write_stream_memory(deduped, "wmdedup_golden", "append"), tmp_path, "wmdedup")
    ids = sorted(r["event_id"] for r in spark.table("wmdedup_golden").collect())
    assert ids == [1, 2]  # drifted-ts redelivery of event 1 collapsed


def test_stateful_running_agg(spark, stream_dir, tmp_path):
    """B22 — applyInPandasWithState running sum/count across micro-batches."""
    stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA)
    running = ops.stateful_running_agg(stream, "user_id", "value", "ts")
    _replay(ops.write_stream_memory(running, "state_golden", "update"), tmp_path, "state")
    # last emitted row per key carries the final running state
    final = {}
    for r in spark.table("state_golden").collect():
        final[r["key"]] = (r["running_sum"], r["running_count"])
    assert final[1] == (7.0, 3)  # 1+2+4 (dedup not applied here)
    assert final[2] == (13.0, 3)  # 3+5+5


def test_foreach_batch_sink(spark, stream_dir, tmp_path):
    """B19 — foreachBatch escape hatch: one call per micro-batch."""
    stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA)
    seen: list[tuple[int, int]] = []

    def sink(df, epoch_id: int) -> None:
        seen.append((epoch_id, df.count()))

    _replay(ops.write_stream_foreach_batch(stream, sink, "append"), tmp_path, "feb")
    assert len(seen) == 2  # one per file (maxFilesPerTrigger=1)
    assert sum(n for _, n in seen) == 6


def test_foreach_batch_to_jdbc_sink(spark, stream_dir, tmp_path):
    """B19+A20 — stream → foreachBatch → a REAL external sink (embedded
    Derby over JDBC), append per micro-batch; the reference's
    MySQL-load path in streaming form."""
    from etlbigdata_spark.sources import readers, writers

    url = f"jdbc:derby:{tmp_path}/stream_db;create=true"
    stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA)

    def sink(df, epoch_id: int) -> None:
        writers.write_jdbc(df, url, "stream_events", mode="append")

    _replay(ops.write_stream_foreach_batch(stream, sink, "append"), tmp_path, "feb_jdbc")
    back = readers.read_jdbc(spark, url, "stream_events")
    assert back.count() == 6  # both micro-batches landed (incl. the planted dup row)
    assert {r[0] for r in back.select("event_id").collect()} == {1, 2, 3, 4, 5}


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """B19+B21 — watermarked stream-stream join: clicks pair with the
    impression they follow within 10 minutes; a too-late click and a
    click with no impression never emit.  Streaming result == the same
    join run in batch."""
    imp_dir = tmp_path / "impressions"
    clk_dir = tmp_path / "clicks"
    imp_dir.mkdir()
    clk_dir.mkdir()
    # reuse the event schema: event_id=ad id carrier, user_id=join key
    _write_batch(
        imp_dir / "imp_000.parquet",
        [(100, _ts(10, 0), 1, 0.0), (200, _ts(10, 5), 2, 0.0)],
    )
    _write_batch(
        clk_dir / "clk_000.parquet",
        [
            (101, _ts(10, 3), 1, 1.0),   # joins imp 100 (3 min later)
            (102, _ts(10, 20), 1, 1.0),  # too late for imp 100 (> 10 min)
            (201, _ts(10, 6), 2, 1.0),   # joins imp 200
            (301, _ts(10, 7), 3, 1.0),   # no impression for user 3
        ],
    )

    def build(reader):
        imps = reader(str(imp_dir)).select(
            F.col("event_id").alias("imp_id"), F.col("ts").alias("imp_ts"), "user_id"
        )
        clks = reader(str(clk_dir)).select(
            F.col("event_id").alias("clk_id"), F.col("ts").alias("clk_ts"), "user_id"
        )
        return ops.stream_stream_join(
            imps, clks, "imp_ts", "clk_ts", ["user_id"], within="10 minutes"
        ).select("imp_id", "clk_id", "user_id")

    joined = build(lambda p: ops.read_file_stream(spark, p, EVENT_SCHEMA))
    _replay(ops.write_stream_memory(joined, "ssjoin_golden", "append"), tmp_path, "ssjoin")
    got = {tuple(r) for r in spark.table("ssjoin_golden").collect()}
    want = {
        tuple(r)
        for r in build(lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)).collect()
    }
    assert got == want
    assert got == {(100, 101, 1), (200, 201, 2)}


def test_kafka_wrapper_options_and_deserializers(spark):
    """B19 Kafka surface: option validation is testable without a broker;
    the value deserializers are testable on a static frame shaped like
    the Kafka source schema.  The .load() path itself needs the
    spark-sql-kafka connector JAR + a broker — documented gate in the
    read_kafka docstring; the sandbox ships neither."""
    import pytest as _pytest

    from etlbigdata_spark.streaming import ops

    with _pytest.raises(ValueError, match="exactly one"):
        ops.read_kafka(spark, "localhost:9092")
    with _pytest.raises(ValueError, match="exactly one"):
        ops.read_kafka(spark, "localhost:9092", topics="t", subscribe_pattern="t.*")

    # connector JAR absent here: the option plumbing must reach data-source
    # resolution (i.e. fail looking up "kafka", not inside our wrapper)
    try:
        ops.read_kafka(spark, "localhost:9092", topics=["a", "b"],
                       max_offsets_per_trigger=1000)
        has_connector = True
    except Exception as e:
        has_connector = False
        assert "kafka" in str(e).lower()
    if has_connector:  # pragma: no cover - not in this sandbox
        df = ops.read_kafka(spark, "localhost:9092", topics="a")
        assert df.isStreaming

    fake = spark.createDataFrame(
        [(bytearray(b"k1"), bytearray(b'{"user_id": 7, "value": 1.5}'), "t", 0, 42)],
        "key binary, value binary, topic string, partition int, offset long",
    ).withColumn("timestamp", F.lit("2024-01-01 00:00:00").cast("timestamp"))

    s = ops.kafka_value_string(fake).collect()[0]
    assert (s["key"], s["value"], s["offset"]) == ("k1", '{"user_id": 7, "value": 1.5}', 42)

    j = ops.kafka_value_json(fake, "user_id long, value double").collect()[0]
    assert (j["user_id"], j["value"], j["topic"]) == (7, 1.5, "t")


def test_kafka_option_map_golden(spark):
    """Round-5 brief item 9 — the Kafka plan-construction CI surface:
    golden-pin the EXACT option maps the wrappers generate (these names
    are the connector's external contract; a typo or rename here would
    otherwise only surface on the first start() against a real broker),
    and pin the kafka_value_json projection schema."""
    from etlbigdata_spark.streaming import ops

    assert ops.kafka_source_options("h1:9092,h2:9092", topics=["a", "b"]) == {
        "kafka.bootstrap.servers": "h1:9092,h2:9092",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
        "subscribe": "a,b",
    }
    assert ops.kafka_source_options(
        "h:9092",
        subscribe_pattern="events-.*",
        starting_offsets="latest",
        max_offsets_per_trigger=50_000,
        fail_on_data_loss=False,
        **{"kafka.security.protocol": "SASL_SSL"},
    ) == {
        "kafka.bootstrap.servers": "h:9092",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
        "subscribePattern": "events-.*",
        "maxOffsetsPerTrigger": "50000",
        "kafka.security.protocol": "SASL_SSL",
    }
    assert ops.kafka_sink_options(["key", "value"], "h:9092", topic="out") == {
        "kafka.bootstrap.servers": "h:9092",
        "topic": "out",
    }
    # per-row topic column: no topic option emitted
    assert ops.kafka_sink_options(["value", "topic"], "h:9092") == {
        "kafka.bootstrap.servers": "h:9092",
    }
    # passthrough Python bools stringify lowercase like pyspark's to_str
    # (ADVICE r5: str(True) -> 'True' would break string-compared options)
    assert ops.kafka_source_options(
        "h:9092", topics="a", includeHeaders=True
    )["includeHeaders"] == "true"
    assert ops.kafka_sink_options(
        ["value"], "h:9092", topic="out", **{"kafka.enable.idempotence": False}
    )["kafka.enable.idempotence"] == "false"
    with pytest.raises(ValueError, match="'value' column"):
        ops.kafka_sink_options(["key"], "h:9092", topic="out")
    with pytest.raises(ValueError, match="'topic' column"):
        ops.kafka_sink_options(["value"], "h:9092")

    # the deserializer's projection schema is part of the same contract:
    # a Kafka-source-shaped frame must come out typed exactly like this
    fake = spark.createDataFrame(
        [], "key binary, value binary, topic string, partition int, offset long, "
            "timestamp timestamp",
    )
    j = ops.kafka_value_json(fake, "user_id long, value double")
    assert [(f.name, f.dataType.simpleString()) for f in j.schema.fields] == [
        ("user_id", "bigint"), ("value", "double"), ("topic", "string"),
        ("partition", "int"), ("offset", "bigint"), ("timestamp", "timestamp"),
    ]
    s = ops.kafka_value_string(fake)
    assert [(f.name, f.dataType.simpleString()) for f in s.schema.fields] == [
        ("key", "string"), ("value", "string"), ("topic", "string"),
        ("partition", "int"), ("offset", "bigint"), ("timestamp", "timestamp"),
    ]

    # round-6 brief item 5: pin the deserializers' ANALYZED PLAN text
    # (expression ids vary; the operator/expression shapes must not) —
    # a Spark upgrade changing from_json/cast resolution fails here, not
    # silently at a broker.  Normalize #N ids so the golden is stable.
    import re

    def plan(df):
        return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().analyzed().toString()).strip()

    jp = plan(j)
    assert "from_json(StructField(user_id,LongType,true), StructField(value,DoubleType,true), cast(value# as string)" in jp
    assert jp.startswith("Project [j#.user_id AS user_id#, j#.value AS value#, topic#, partition#, offset#, timestamp#]")
    sp = plan(s)
    assert sp.startswith(
        "Project [cast(key# as string) AS key#, cast(value# as string) AS value#, "
        "topic#, partition#, offset#, timestamp#]"
    )


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """B19/B21 — exactly-once across RESTARTS: run an availableNow drain
    with a checkpoint, then add a new source file and rerun with the
    SAME checkpoint — the second run must process only the new file (no
    reprocessing, no loss), and the final counts must equal the batch
    answer over all files.  This is the recovery contract a 100 TB
    pipeline leans on when a job dies mid-stream."""
    d = tmp_path / "ck_src"
    d.mkdir()
    _write_batch(d / "f0.parquet", [(1, _ts(10, 0), 1, 1.0), (2, _ts(10, 1), 2, 2.0)])
    ckpt = str(tmp_path / "ck_ckpt")

    def drain(run_name):
        stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
        counts = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )
        ops.run_available_now(
            ops.write_stream_memory(counts, run_name, "complete"), ckpt
        )
        return {
            (r["user_id"], r["n"], round(r["s"], 4))
            for r in spark.table(run_name).collect()
        }

    first = drain("ck_run1")
    assert first == {(1, 1, 1.0), (2, 1, 2.0)}

    _write_batch(d / "f1.parquet", [(3, _ts(10, 2), 1, 4.0)])
    second = drain("ck_run2")
    # complete-mode state survived the restart via the checkpoint: user 1
    # accumulates across BOTH runs without reprocessing f0
    assert second == {(1, 2, 5.0), (2, 1, 2.0)}


def test_file_sink_crash_replay_exactly_once(spark, tmp_path):
    """Round-6 brief item 1 — exactly-once across a CRASH, not just a
    graceful restart: complete a multi-batch file-sink run, then delete
    the checkpoint's newest ``commits/<k>`` marker (simulating a death
    BETWEEN the sink committing batch k and the checkpoint recording
    it — the classic torn-failure window), restart from the same
    checkpoint, and require the manifest-visible output to equal the
    uninterrupted golden run bit-for-bit: the sink's _spark_metadata log
    makes the re-run of batch k idempotent.  Also proves readers honor
    the manifest: an orphan parquet file dropped into the sink dir stays
    invisible."""
    import os
    import shutil

    d = tmp_path / "crash_src"
    d.mkdir()
    rows = [
        [(1, _ts(10, 0), 1, 1.0), (2, _ts(10, 1), 2, 2.0)],
        [(3, _ts(10, 2), 1, 3.0)],
        [(4, _ts(10, 3), 3, 4.0), (5, _ts(10, 4), 1, 5.0)],
        [(6, _ts(10, 5), 2, 6.0)],
    ]
    import time

    now = time.time()
    for i, batch in enumerate(rows):
        _write_batch(d / f"f{i}.parquet", batch)
        os.utime(d / f"f{i}.parquet", (now - 100 + i,) * 2)

    def run(sink, ckpt):
        stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
        out = stream.select("event_id", "user_id", "value")
        ops.run_available_now(ops.write_stream_files(out, sink), ckpt)

    # golden: one uninterrupted run
    golden_sink = str(tmp_path / "golden_sink")
    run(golden_sink, str(tmp_path / "golden_ckpt"))
    golden = sorted(tuple(r) for r in spark.read.parquet(golden_sink).collect())
    assert len(golden) == 6

    # crash run: complete, then tear out the newest commit marker
    sink = str(tmp_path / "crash_sink")
    ckpt = str(tmp_path / "crash_ckpt")
    run(sink, ckpt)
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    newest = [c for c in commits if not c.startswith(".")][-1]
    assert newest == "3"  # 4 files × maxFilesPerTrigger=1 → batches 0..3
    os.remove(os.path.join(ckpt, "commits", newest))
    crc = os.path.join(ckpt, "commits", f".{newest}.crc")
    if os.path.exists(crc):  # local ChecksumFs leaves a sidecar
        os.remove(crc)
    # restart: Spark re-executes batch 3 from offsets/3; the sink must
    # recognize batch 3 in its _spark_metadata and skip the double-write
    run(sink, ckpt)
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    assert got == golden

    # manifest-based listing: an orphan file (e.g. from a task that died
    # mid-write on a real cluster) is invisible to readers
    orphan_src = spark.read.parquet(sink).inputFiles()[0].replace("file:", "")
    shutil.copy(orphan_src, os.path.join(sink, "part-99999-orphan.parquet"))
    assert sorted(tuple(r) for r in spark.read.parquet(sink).collect()) == golden


def test_stateful_scd2_state_recovery_across_restart(spark, tmp_path):
    """Round-6 brief item 1b — stateful_scd2's per-key state must
    survive a stop/restart through the checkpoint: run batches b0,b1 to
    completion, restart from the same checkpoint on a NEW file b2, and
    require the merged update-mode upserts (run 1 then run 2, by
    (key, valid_from)) to equal the batch operator over ALL data.  The
    cross-restart interval close is the proof: run 2 emits a closed
    interval whose valid_from only the recovered state could know."""
    from etlbigdata_spark.operators import cleaning

    d = tmp_path / "scd2r_src"
    d.mkdir()
    b0 = [(1, _ts(9, 0), 1, 1.0), (2, _ts(9, 0), 2, 5.0)]
    b1 = [(3, _ts(9, 30), 1, 1.0)]          # heartbeat extends the open interval
    b2 = [(4, _ts(10, 0), 1, 2.0),          # closes the interval opened in run 1
          (5, _ts(10, 0), 2, 5.0)]          # heartbeat across the restart
    import os
    import time

    now = time.time()
    for i, batch in enumerate([b0, b1]):
        _write_batch(d / f"b{i}.parquet", batch)
        os.utime(d / f"b{i}.parquet", (now - 100 + i,) * 2)

    ckpt = str(tmp_path / "scd2r_ckpt")

    def drain():
        # memory sink refuses checkpoint recovery in update mode;
        # foreachBatch is the production upsert shape anyway
        rows = []
        stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
        hist = ops.stateful_scd2(stream, "user_id", "value", "ts")
        w = ops.write_stream_foreach_batch(
            hist, lambda bdf, _epoch: rows.extend(bdf.collect()), "update"
        )
        ops.run_available_now(w, ckpt)
        return rows

    upserts = {}
    for r in drain():
        upserts[(r.user_id, r.valid_from)] = (r.value, r.valid_to, r.is_current)
    run1_keys = set(upserts)

    _write_batch(d / "b2.parquet", b2)
    os.utime(d / "b2.parquet", (now,) * 2)
    for r in drain():  # restart: state store recovered from ckpt
        upserts[(r.user_id, r.valid_from)] = (r.value, r.valid_to, r.is_current)

    batch_df = spark.createDataFrame(b0 + b1 + b2, EVENT_SCHEMA)
    expected = {
        (r.user_id, r.valid_from): (r.value, r.valid_to, r.is_current)
        for r in cleaning.scd2_history(batch_df, ["user_id"], "ts", ["value"]).collect()
    }
    assert upserts == expected
    # the closed (1, 9:00) interval was UPDATED by run 2 — valid_from
    # 9:00 is knowable there only via the recovered state
    assert (1, _ts(9, 0)) in run1_keys
    assert upserts[(1, _ts(9, 0))] == (1.0, _ts(10, 0), False)


def test_stateful_scd2_composite_key(spark, tmp_path):
    """Multi-KEY parity with the batch operator: keys=[acct, region]
    must track intervals per composite key, matching
    cleaning.scd2_history(keys=[...]) over the same data."""
    from etlbigdata_spark.operators import cleaning

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("acct", T.LongType()),
            T.StructField("region", T.StringType()),
            T.StructField("plan", T.StringType()),
        ]
    )
    arrow = pa.schema(
        [("ts", pa.timestamp("us")), ("acct", pa.int64()),
         ("region", pa.string()), ("plan", pa.string())]
    )
    rows = [
        (_ts(9, 0), 1, "eu", "free"),
        (_ts(9, 10), 1, "eu", "pro"),    # change for (1, eu)
        (_ts(9, 0), 1, "us", "free"),    # same acct, different region = own key
        (_ts(9, 20), 1, "us", "free"),   # heartbeat for (1, us)
        (_ts(9, 0), 2, "eu", "pro"),
    ]
    d = tmp_path / "scd2k_src"
    d.mkdir()
    pdf = pd.DataFrame(rows, columns=["ts", "acct", "region", "plan"])
    pq.write_table(pa.Table.from_pandas(pdf, schema=arrow), d / "b0.parquet")

    stream = ops.read_file_stream(spark, str(d), schema)
    hist = ops.stateful_scd2(stream, ["acct", "region"], "plan", "ts")
    assert hist.columns == ["acct", "region", "plan", "valid_from", "valid_to", "is_current"]
    _replay(ops.write_stream_memory(hist, "scd2k_golden", "update"), tmp_path, "scd2k")
    streamed = {
        (r.acct, r.region, r.valid_from): (r.plan, r.valid_to, r.is_current)
        for r in spark.table("scd2k_golden").collect()
    }
    batch_df = spark.createDataFrame(rows, schema)
    expected = {
        (r.acct, r.region, r.valid_from): (r.plan, r.valid_to, r.is_current)
        for r in cleaning.scd2_history(
            batch_df, ["acct", "region"], "ts", ["plan"]
        ).collect()
    }
    assert streamed == expected and len(expected) == 4


def test_stateful_idle_timeout_evicts_retired_keys(spark, tmp_path):
    """State-bound property for long-running streams: a key idle past
    (last event + idle_timeout) in event time is evicted once the
    watermark passes; a later re-arrival opens a FRESH interval (scd2)
    or restarts totals (running agg) — proving the state actually left
    the store, which is what keeps a years-running stream's state
    proportional to ACTIVE keys."""
    d = tmp_path / "idle_src"
    d.mkdir()
    batches = [
        [(1, _ts(9, 0), 1, 1.0)],                         # key 1 opens
        [(2, _ts(11, 0), 2, 2.0)],                        # watermark → 10:50
        [(3, _ts(11, 30), 2, 2.0)],                       # timeout fires for key 1
        [(4, _ts(12, 0), 1, 1.0)],                        # key 1 reappears, SAME value
    ]
    import os
    import time

    now = time.time()
    for i, b in enumerate(batches):
        _write_batch(d / f"f{i}.parquet", b)
        os.utime(d / f"f{i}.parquet", (now - 100 + i,) * 2)

    # scd2: without eviction the 12:00 re-arrival is a heartbeat of the
    # 9:00 interval; with eviction it must open a NEW current interval
    stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
    hist = ops.stateful_scd2(stream, "user_id", "value", "ts", idle_timeout="30 minutes")
    rows = []
    ops.run_available_now(
        ops.write_stream_foreach_batch(
            hist, lambda bdf, _e: rows.extend(bdf.collect()), "update"
        ),
        str(tmp_path / "idle_ckpt"),
    )
    upserts = {}
    for r in rows:
        upserts[(r.user_id, r.valid_from)] = (r.value, r.valid_to, r.is_current)
    assert upserts[(1, _ts(9, 0))] == (1.0, None, True)    # old interval untouched
    assert upserts[(1, _ts(12, 0))] == (1.0, None, True)   # fresh open interval

    # running agg: totals restart from zero after eviction
    stream2 = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
    agg = ops.stateful_running_agg(stream2, "user_id", "value", "ts", idle_timeout="30 minutes")
    rows2 = []
    ops.run_available_now(
        ops.write_stream_foreach_batch(
            agg, lambda bdf, _e: rows2.extend(bdf.collect()), "update"
        ),
        str(tmp_path / "idle_ckpt2"),
    )
    key1_counts = [r.running_count for r in rows2 if r.key == 1]
    assert key1_counts == [1, 1]  # second 1 = restarted, not accumulated to 2


def test_max_files_per_trigger_batching_invariance(spark, tmp_path):
    """Round-6 brief item 7 — backpressure: maxFilesPerTrigger bounds
    each micro-batch (k files → ceil(n/k) batches, counted from the
    checkpoint's commit log) without changing the final file-sink
    output.  Trigger sizing guidance lives in read_file_stream's
    docstring; this pins the semantics."""
    import os
    import time

    d = tmp_path / "bp_src"
    d.mkdir()
    now = time.time()
    for i in range(4):
        _write_batch(d / f"f{i}.parquet", [(i, _ts(10, i), i % 2, float(i))])
        os.utime(d / f"f{i}.parquet", (now - 100 + i,) * 2)

    def run(k, tag):
        stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=k)
        sink = str(tmp_path / f"bp_sink_{tag}")
        ckpt = str(tmp_path / f"bp_ckpt_{tag}")
        ops.run_available_now(ops.write_stream_files(stream, sink), ckpt)
        n_batches = len(
            [c for c in os.listdir(os.path.join(ckpt, "commits")) if not c.startswith(".")]
        )
        out = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
        return n_batches, out

    n1, out1 = run(1, "k1")
    n2, out2 = run(2, "k2")
    n4, out4 = run(4, "k4")
    assert (n1, n2, n4) == (4, 2, 1)
    assert out1 == out2 == out4 and len(out1) == 4


def test_file_sink_roundtrip_real_engine(spark, sf_dir, tmp_path):
    """B19 sink surface through the REAL engine: readStream → filter →
    parquet file sink (availableNow) → read back equals the batch
    projection; the sink's _spark_metadata commit log exists (the
    exactly-once mechanism)."""
    import os

    from etlbigdata_spark.streaming import ops as stops

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stage = str(tmp_path / "src"); os.makedirs(stage)
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(stage, "events.parquet"))
    stream = stops.read_file_stream(spark, stage, raw.schema)
    out = stream.select("event_id", "user_id", "event_type").filter(F.col("user_id") % 10 == 0)
    sink = str(tmp_path / "sink")
    writer = stops.write_stream_files(out, sink)
    stops.run_available_now(writer, str(tmp_path / "ckpt"))

    back = spark.read.parquet(sink)
    expected = raw.select("event_id", "user_id", "event_type").filter(F.col("user_id") % 10 == 0)
    assert back.count() == expected.count() > 0
    assert {r.event_id for r in back.collect()} == {r.event_id for r in expected.collect()}
    assert os.path.isdir(os.path.join(sink, "_spark_metadata"))


def test_kafka_sink_wrapper_validates_and_builds(spark, sf_dir):
    """B19 write side: option/plan construction (no broker in sandbox —
    gate documented in the docstring, matching the source wrapper)."""
    import pytest as _pytest

    from etlbigdata_spark.streaming import ops as stops

    # schema-only frames suffice for writer construction
    df = spark.readStream.format("rate").load().selectExpr("CAST(value AS STRING) AS value")
    w = stops.write_stream_kafka(df, "broker:9092", topic="t1", **{"kafka.acks": "all"})
    assert w is not None
    no_value = spark.readStream.format("rate").load().select("timestamp")
    with _pytest.raises(ValueError, match="value"):
        stops.write_stream_kafka(no_value, "broker:9092", topic="t1")
    with _pytest.raises(ValueError, match="topic"):
        stops.write_stream_kafka(df, "broker:9092")


def test_stateful_scd2_matches_batch_operator(spark, tmp_path):
    """B22 x CDC — streaming SCD2 through the REAL engine must converge
    to the batch operator's exact output: update-mode emissions upserted
    by (key, valid_from) equal cleaning.scd2_history over the union of
    all batches, including a cross-batch interval close."""
    from etlbigdata_spark.operators import cleaning

    d = tmp_path / "scd2_src"
    d.mkdir()
    b0 = [
        (1, _ts(10, 0), 1, 1.0),
        (2, _ts(10, 5), 1, 1.0),   # heartbeat: same value
        (3, _ts(10, 9), 2, 7.0),
    ]
    b1 = [
        (4, _ts(10, 10), 1, 2.0),  # change arriving in a LATER batch
        (5, _ts(10, 20), 2, 7.0),  # cross-batch heartbeat
        (6, _ts(10, 30), 2, 9.0),
    ]
    _write_batch(d / "b0.parquet", b0)
    _write_batch(d / "b1.parquet", b1)
    import os
    import time

    now = time.time()
    os.utime(d / "b0.parquet", (now - 100,) * 2)
    os.utime(d / "b1.parquet", (now - 50,) * 2)

    stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
    hist = ops.stateful_scd2(stream, "user_id", "value", "ts")
    # output schema now mirrors the batch operator byte-for-byte
    assert hist.columns == ["user_id", "value", "valid_from", "valid_to", "is_current"]
    _replay(ops.write_stream_memory(hist, "scd2_golden", "update"), tmp_path, "scd2")
    # update-mode memory sink appends; upsert by (key, valid_from)
    streamed = {}
    for r in spark.table("scd2_golden").collect():
        streamed[(r.user_id, r.valid_from)] = (r.value, r.valid_to, r.is_current)

    batch_df = spark.createDataFrame(b0 + b1, EVENT_SCHEMA)
    expected = {
        (r.user_id, r.valid_from): (r.value, r.valid_to, r.is_current)
        for r in cleaning.scd2_history(batch_df, ["user_id"], "ts", ["value"]).collect()
    }
    assert streamed == expected
    # shape sanity: user 1 has two intervals, user 2 has two
    assert len(expected) == 4


def test_stateful_scd2_multi_attr_matches_batch(spark, tmp_path):
    """Round-6 brief item 2 — multi-attribute SCD2 parity: a change in
    ANY tracked attr (including null transitions and a string+double
    pair changing independently) must open a new interval, across
    batches, exactly like the batch operator over the unioned data."""
    from etlbigdata_spark.operators import cleaning

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("tier", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    arrow = pa.schema(
        [("ts", pa.timestamp("us")), ("user_id", pa.int64()),
         ("tier", pa.string()), ("score", pa.float64())]
    )

    def write(path, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "user_id", "tier", "score"])
        pq.write_table(pa.Table.from_pandas(pdf, schema=arrow), path)

    d = tmp_path / "scd2m_src"
    d.mkdir()
    b0 = [
        (_ts(9, 0), 1, "gold", 1.0),
        (_ts(9, 10), 1, "gold", 1.0),    # heartbeat: both unchanged
        (_ts(9, 20), 1, "gold", 2.0),    # score-only change
        (_ts(9, 0), 2, None, 5.0),       # null attr opens an interval
    ]
    b1 = [
        (_ts(9, 30), 1, "silver", 2.0),  # tier-only change, later batch
        (_ts(9, 40), 1, "silver", 2.0),  # cross-batch heartbeat
        (_ts(9, 30), 2, None, 5.0),      # null→null heartbeat (unchanged)
        (_ts(9, 50), 2, "bronze", None), # null→value AND value→null at once
    ]
    write(d / "b0.parquet", b0)
    write(d / "b1.parquet", b1)
    import os
    import time

    now = time.time()
    os.utime(d / "b0.parquet", (now - 100,) * 2)
    os.utime(d / "b1.parquet", (now - 50,) * 2)

    stream = ops.read_file_stream(spark, str(d), schema)
    hist = ops.stateful_scd2(stream, "user_id", ["tier", "score"], "ts")
    _replay(ops.write_stream_memory(hist, "scd2m_golden", "update"), tmp_path, "scd2m")
    streamed = {}
    for r in spark.table("scd2m_golden").collect():
        streamed[(r.user_id, r.valid_from)] = (r.tier, r.score, r.valid_to, r.is_current)

    batch_df = spark.createDataFrame(b0 + b1, schema)
    expected = {
        (r.user_id, r.valid_from): (r.tier, r.score, r.valid_to, r.is_current)
        for r in cleaning.scd2_history(
            batch_df, ["user_id"], "ts", ["tier", "score"]
        ).collect()
    }
    assert streamed == expected
    # user 1: gold/1.0 → gold/2.0 → silver/2.0; user 2: null/5.0 → bronze/null
    assert len(expected) == 5


def test_idle_timeout_survives_checkpoint_restart(spark, tmp_path):
    """The eviction timer is part of checkpointed state: register a
    timeout in run 1, stop, restart from the same checkpoint — the
    timeout must fire in run 2 (watermark passes it there) and the
    key's re-arrival must open a FRESH interval, exactly as in the
    uninterrupted test above."""
    d = tmp_path / "idle_r_src"
    d.mkdir()
    run1 = [
        [(1, _ts(9, 0), 1, 1.0)],     # key 1 opens; timeout at 9:30 registered
        [(2, _ts(11, 0), 2, 2.0)],    # watermark → 10:50 after this batch
    ]
    run2 = [
        [(3, _ts(11, 30), 2, 2.0)],   # timeout fires HERE, post-restart
        [(4, _ts(12, 0), 1, 1.0)],    # key 1 reappears, SAME value
    ]
    import os
    import time

    now = time.time()
    files = []

    def add(batch):
        i = len(files)
        _write_batch(d / f"f{i}.parquet", batch)
        os.utime(d / f"f{i}.parquet", (now - 100 + i,) * 2)
        files.append(i)

    ckpt = str(tmp_path / "idle_r_ckpt")
    rows = []

    def drain():
        stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
        hist = ops.stateful_scd2(stream, "user_id", "value", "ts", idle_timeout="30 minutes")
        ops.run_available_now(
            ops.write_stream_foreach_batch(
                hist, lambda bdf, _e: rows.extend(bdf.collect()), "update"
            ),
            ckpt,
        )

    for b in run1:
        add(b)
    drain()  # run 1: timer registered, not yet fired
    for b in run2:
        add(b)
    drain()  # run 2: restart; recovered timer fires, then key 1 returns

    upserts = {}
    for r in rows:
        upserts[(r.user_id, r.valid_from)] = (r.value, r.valid_to, r.is_current)
    assert upserts[(1, _ts(9, 0))] == (1.0, None, True)   # old interval, untouched
    assert upserts[(1, _ts(12, 0))] == (1.0, None, True)  # fresh open interval:
    # a heartbeat would NOT have re-emitted with a new valid_from, so this
    # proves the recovered timer evicted the state after the restart


def test_rocksdb_state_store_matches_default(spark, stream_dir, tmp_path):
    """B22 at scale — the RocksDB state store (off-heap + local-disk
    state, changelog checkpoints; the backend a 100 TB stateful stream
    runs on, where the default provider's state-as-heap-objects dies)
    must be a drop-in: the applyInPandasWithState running agg replayed
    under ``rocksdb_state_conf()`` yields exactly the default-provider
    result, and the provider is verifiably active (RocksDB SST/log
    files appear under the checkpoint's state dir)."""
    confs = ops.rocksdb_state_conf()
    with ops.session_confs(spark, confs):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ops.ROCKSDB_PROVIDER
        )
        stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA)
        running = ops.stateful_running_agg(stream, "user_id", "value", "ts")
        _replay(
            ops.write_stream_memory(running, "rocksdb_state", "update"),
            tmp_path,
            "rocksdb_state",
        )
    # conf restored after the context
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        != ops.ROCKSDB_PROVIDER
    )
    final = {}
    for r in spark.table("rocksdb_state").collect():
        final[r["key"]] = (r["running_sum"], r["running_count"])
    # identical to test_stateful_running_agg's default-provider golden
    assert final[1] == (7.0, 3)
    assert final[2] == (13.0, 3)
    # the provider actually engaged: RocksDB changelog/snapshot artifacts
    # live under <ckpt>/state/** (.changelog with changelogCheckpointing,
    # .zip snapshots otherwise) — the default provider writes .delta
    import glob as _glob

    state_files = _glob.glob(str(tmp_path / "ckpt_rocksdb_state" / "state" / "**" / "*.*"), recursive=True)
    exts = {f.rsplit(".", 1)[-1] for f in state_files}
    assert "changelog" in exts or "zip" in exts, f"no RocksDB artifacts: {sorted(exts)}"
    assert "delta" not in exts, "default HDFS-backed provider artifacts present"


def test_rocksdb_scd2_recovery_across_restart(spark, tmp_path):
    """The restart-recovery property proven for the default provider
    (test_stateful_scd2_state_recovery_across_restart) must hold when
    state lives in RocksDB: stop after two batches, restart from the
    same checkpoint — run 2 closes an interval whose valid_from only
    the RECOVERED RocksDB state could know, and the merged upserts
    equal the batch operator over all data."""
    from etlbigdata_spark.operators import cleaning

    d = tmp_path / "rdb_src"
    d.mkdir()
    b0 = [(1, _ts(9, 0), 1, 1.0), (2, _ts(9, 0), 2, 5.0)]
    b1 = [(3, _ts(9, 30), 1, 1.0)]
    b2 = [(4, _ts(10, 0), 1, 2.0), (5, _ts(10, 0), 2, 5.0)]
    import os
    import time

    now = time.time()
    for i, batch in enumerate([b0, b1]):
        _write_batch(d / f"b{i}.parquet", batch)
        os.utime(d / f"b{i}.parquet", (now - 100 + i,) * 2)

    ckpt = str(tmp_path / "rdb_ckpt")

    def drain():
        rows = []
        with ops.session_confs(spark, ops.rocksdb_state_conf()):
            stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
            hist = ops.stateful_scd2(stream, "user_id", "value", "ts")
            w = ops.write_stream_foreach_batch(
                hist, lambda bdf, _epoch: rows.extend(bdf.collect()), "update"
            )
            ops.run_available_now(w, ckpt)
        return rows

    upserts = {}
    for r in drain():
        upserts[(r.user_id, r.valid_from)] = (r.value, r.valid_to, r.is_current)
    run1_keys = set(upserts)

    _write_batch(d / "b2.parquet", b2)
    os.utime(d / "b2.parquet", (now,) * 2)
    for r in drain():  # restart: state recovered from the RocksDB checkpoint
        upserts[(r.user_id, r.valid_from)] = (r.value, r.valid_to, r.is_current)

    batch_df = spark.createDataFrame(b0 + b1 + b2, EVENT_SCHEMA)
    expected = {
        (r.user_id, r.valid_from): (r.value, r.valid_to, r.is_current)
        for r in cleaning.scd2_history(batch_df, ["user_id"], "ts", ["value"]).collect()
    }
    assert upserts == expected
    assert (1, _ts(9, 0)) in run1_keys
    assert upserts[(1, _ts(9, 0))] == (1.0, _ts(10, 0), False)


def test_state_reader_inspects_scd2_state(spark, tmp_path):
    """Operational surface: the statestore batch reader exposes a
    stateful query's per-key state from the checkpoint alone — the
    SCD2 stream's recovered (attrs, since) tuple per user must match
    the open intervals the stream emitted, and state-metadata must
    catalog the operator with its committed batch range."""
    d = tmp_path / "sr_src"
    d.mkdir()
    b0 = [(1, _ts(9, 0), 1, 1.0), (2, _ts(9, 0), 2, 5.0)]
    b1 = [(3, _ts(10, 0), 1, 2.0)]  # user 1 changes: open interval moves
    import os
    import time

    now = time.time()
    for i, batch in enumerate([b0, b1]):
        _write_batch(d / f"b{i}.parquet", batch)
        os.utime(d / f"b{i}.parquet", (now - 100 + i,) * 2)
    ckpt = str(tmp_path / "sr_ckpt")
    rows = []
    stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA)
    hist = ops.stateful_scd2(stream, "user_id", "value", "ts")
    ops.run_available_now(
        ops.write_stream_foreach_batch(
            hist, lambda bdf, _e: rows.extend(bdf.collect()), "update"
        ),
        ckpt,
    )

    meta = ops.read_state_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    assert meta[0]["operatorName"] == "applyInPandasWithState"
    assert meta[0]["maxBatchId"] == 1  # two files, maxFilesPerTrigger=1

    state = ops.read_state(spark, ckpt).collect()
    got = {
        r["key"]["user_id"]: (r["value"]["groupState"]["a0"], r["value"]["groupState"]["since"])
        for r in state
    }
    # state per key = the OPEN interval's (attr value, valid_from)
    assert got == {1: (2.0, _ts(10, 0)), 2: (5.0, _ts(9, 0))}

    # time travel: as of batch 0, user 1's open interval was still 1.0@9:00
    state0 = ops.read_state(spark, ckpt, batch_id=0).collect()
    got0 = {
        r["key"]["user_id"]: (r["value"]["groupState"]["a0"], r["value"]["groupState"]["since"])
        for r in state0
    }
    assert got0 == {1: (1.0, _ts(9, 0)), 2: (5.0, _ts(9, 0))}


def test_jdbc_exactly_once_sink_under_crash_replay(spark, tmp_path):
    """JDBC has no _spark_metadata manifest, so a torn failure (sink
    write committed, checkpoint commit lost) makes plain append
    duplicate the replayed batch; jdbc_exactly_once_sink's
    delete-then-insert on the batch id must converge instead.  Tear the
    newest commit marker after a completed run, restart, and require
    the table to equal the uninterrupted expectation with NO duplicate
    rows — while a plain-append control on the same torn checkpoint
    shape DOES duplicate (proving the tear exercises the window)."""
    import os

    from etlbigdata_spark.sources import readers

    d = tmp_path / "eo_src"
    d.mkdir()
    rows = [
        [(1, _ts(10, 0), 1, 1.0), (2, _ts(10, 1), 2, 2.0)],
        [(3, _ts(10, 2), 1, 3.0)],
    ]
    import time

    now = time.time()
    for i, batch in enumerate(rows):
        _write_batch(d / f"f{i}.parquet", batch)
        os.utime(d / f"f{i}.parquet", (now - 100 + i,) * 2)

    url = f"jdbc:derby:{tmp_path}/eo_db;create=true"

    def run(sink_fn, ckpt):
        stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
        out = stream.select("event_id", "user_id", "value")
        ops.run_available_now(ops.write_stream_foreach_batch(out, sink_fn, "append"), ckpt)

    def tear(ckpt):
        commits = sorted(c for c in os.listdir(os.path.join(ckpt, "commits")) if not c.startswith("."))
        os.remove(os.path.join(ckpt, "commits", commits[-1]))
        crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    # exactly-once sink: run, tear, replay -> no duplicates
    ckpt = str(tmp_path / "eo_ckpt")
    sink = ops.jdbc_exactly_once_sink(url, "eo_events")
    run(sink, ckpt)
    tear(ckpt)
    run(sink, ckpt)
    back = readers.read_jdbc(spark, url, "eo_events").collect()
    assert sorted((r["event_id"], r["user_id"], r["value"]) for r in back) == [
        (1, 1, 1.0), (2, 2, 2.0), (3, 1, 3.0),
    ]
    # batch ids rode along (the consumer-side filter handle)
    assert {r["__batch_id"] for r in back} == {0, 1}

    # control: plain append through the same torn-checkpoint sequence
    # DOES duplicate batch 1 — the window is real, not hypothetical
    from etlbigdata_spark.sources import writers

    ckpt2 = str(tmp_path / "plain_ckpt")
    plain = lambda df, _e: writers.write_jdbc(df, url, "plain_events", mode="append")  # noqa: E731
    run(plain, ckpt2)
    tear(ckpt2)
    run(plain, ckpt2)
    n = readers.read_jdbc(spark, url, "plain_events").count()
    assert n == 4  # 3 rows + the replayed batch's duplicate


def test_foreach_batch_enriched_sees_dim_updates(spark, tmp_path):
    """Per-batch dimension refresh: batch 0 enriches with dim v1; the
    sink then appends a new dim row (between micro-batches, exactly how
    a CDC writer updates a dim under a running stream), and batch 1
    must see it.  Control: the SAME two batches through a plain
    stream-static join resolve the dim's file listing once at start and
    never see the update — the silent staleness the wrapper exists
    for."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "en_src"
    d.mkdir()
    b0 = [(1, _ts(10, 0), 1, 1.0)]
    b1 = [(2, _ts(10, 5), 2, 2.0)]
    now = time.time()
    for i, batch in enumerate([b0, b1]):
        _write_batch(d / f"f{i}.parquet", batch)
        os.utime(d / f"f{i}.parquet", (now - 100 + i,) * 2)

    dim_dir = tmp_path / "dim"
    dim_dir.mkdir()
    dim_schema = pa.schema([("user_id", pa.int64()), ("segment", pa.string())])

    def write_dim(name, rows):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(rows, columns=["user_id", "segment"]), schema=dim_schema
            ),
            dim_dir / name,
        )

    write_dim("v1.parquet", [(1, "gold")])  # user 2 unknown at start

    got = []

    def sink(df, epoch_id):
        got.extend((epoch_id, r["user_id"], r["segment"]) for r in df.collect())
        if epoch_id == 0:
            write_dim("v2.parquet", [(2, "silver")])  # CDC update mid-stream

    stream = ops.read_file_stream(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
    wrapped = ops.foreach_batch_enriched(sink, spark, str(dim_dir), on="user_id")
    ops.run_available_now(
        ops.write_stream_foreach_batch(stream, wrapped, "append"),
        str(tmp_path / "en_ckpt"),
    )
    assert sorted(got) == [(0, 1, "gold"), (1, 2, "silver")]

    # control: plain stream-static join against the same (now 2-file)
    # dim dir, then add a THIRD dim version between its batches — the
    # static side must stay frozen at start-time listing
    got2 = []

    def sink2(df, epoch_id):
        got2.extend((epoch_id, r["user_id"], r["segment"]) for r in df.collect())
        if epoch_id == 0:
            write_dim("v3.parquet", [(2, "platinum")])  # must NOT appear

    stream2 = ops.read_file_stream(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
    static_dim = spark.read.parquet(str(dim_dir))
    joined = stream2.join(static_dim, "user_id", "left")
    ops.run_available_now(
        ops.write_stream_foreach_batch(joined, sink2, "append"),
        str(tmp_path / "en_ckpt2"),
    )
    assert sorted(got2) == [(0, 1, "gold"), (1, 2, "silver")]  # v3 invisible


def _rollup_rows(spark, path):
    return {
        (r["window_start"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(path).collect()
    }


def test_rollup_merge_sink_matches_batch_aggregate(spark, stream_dir, tmp_path):
    """Continuous-aggregate maintenance: update-mode tumbling counts
    upserted into a parquet rollup per micro-batch must end equal to
    the one-shot batch aggregate — the hypertable gold-table contract."""
    rollup = str(tmp_path / "rollup")
    stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    agg = ops.tumbling_counts(stream, "ts", "10 minutes", keys=["user_id"], value_col="value")
    sink = ops.rollup_merge_sink(rollup, keys=["window_start", "user_id"])
    ops.run_available_now(
        ops.write_stream_foreach_batch(agg, sink, "update"), str(tmp_path / "ck1")
    )
    batch = ops.tumbling_counts(
        spark.read.schema(EVENT_SCHEMA).parquet(stream_dir), "ts", "10 minutes",
        keys=["user_id"], value_col="value",
    )
    want = {
        (r["window_start"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert _rollup_rows(spark, rollup) == want


def test_rollup_merge_sink_crash_replay_converges(spark, stream_dir, tmp_path):
    """Tear the newest checkpoint commit after a completed drain and
    restart: the replayed batch re-delivers ABSOLUTE totals and the
    upsert converges — same final rollup, no double counting.  This is
    the property a delta-accumulating sink would fail."""
    import os

    rollup = str(tmp_path / "rollup_cr")
    ckpt = str(tmp_path / "ck_cr")

    def run():
        stream = ops.read_file_stream(spark, stream_dir, EVENT_SCHEMA, max_files_per_trigger=1)
        agg = ops.tumbling_counts(stream, "ts", "10 minutes", keys=["user_id"], value_col="value")
        sink = ops.rollup_merge_sink(rollup, keys=["window_start", "user_id"])
        ops.run_available_now(ops.write_stream_foreach_batch(agg, sink, "update"), ckpt)

    run()
    golden = _rollup_rows(spark, rollup)
    commits = sorted(c for c in os.listdir(os.path.join(ckpt, "commits")) if not c.startswith("."))
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()  # replays the torn batch
    assert _rollup_rows(spark, rollup) == golden


def test_rollup_merge_sink_partitioned_touches_only_batch_partitions(spark, tmp_path):
    """partition_col mode: a batch touching one partition must leave
    the other partition's files physically untouched (dynamic
    overwrite), while the merged values stay correct."""
    import os

    rollup = str(tmp_path / "rollup_part")
    sink = ops.rollup_merge_sink(rollup, keys=["day", "user_id"], partition_col="day")
    b0 = spark.createDataFrame(
        [("d1", 1, 10), ("d2", 2, 20)], "day string, user_id int, n long"
    )
    sink(b0, 0)
    d1_files = {
        f: os.path.getmtime(os.path.join(rollup, "day=d1", f))
        for f in os.listdir(os.path.join(rollup, "day=d1"))
        if f.endswith(".parquet")
    }
    b1 = spark.createDataFrame([("d2", 2, 25), ("d2", 3, 5)], "day string, user_id int, n long")
    sink(b1, 1)
    after = {
        f: os.path.getmtime(os.path.join(rollup, "day=d1", f))
        for f in os.listdir(os.path.join(rollup, "day=d1"))
        if f.endswith(".parquet")
    }
    assert after == d1_files, "untouched partition was rewritten"
    got = {(r.day, r.user_id): r.n for r in spark.read.parquet(rollup).collect()}
    assert got == {("d1", 1): 10, ("d2", 2): 25, ("d2", 3): 5}


def test_rollup_merge_sink_rejects_uri_paths():
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        ops.rollup_merge_sink("s3://bucket/rollup", keys=["k"])


def test_rollup_merge_sink_null_partition_values_survive(spark, tmp_path):
    """isin() is three-valued: a NULL partition value must still be
    read-merged when a later batch touches the null partition, not
    silently dropped by a NULL comparison (review fix)."""
    rollup = str(tmp_path / "rollup_null")
    sink = ops.rollup_merge_sink(rollup, keys=["day", "user_id"], partition_col="day")
    b0 = spark.createDataFrame(
        [(None, 1, 10), ("d1", 2, 20)], "day string, user_id int, n long"
    )
    sink(b0, 0)
    b1 = spark.createDataFrame(
        [(None, 3, 5)], "day string, user_id int, n long"
    )
    sink(b1, 1)  # touches ONLY the null partition
    got = {(r.day, r.user_id): r.n for r in spark.read.parquet(rollup).collect()}
    assert got == {(None, 1): 10, ("d1", 2): 20, (None, 3): 5}, (
        "user 1's null-partition row was lost in the merge"
    )


def test_foreach_batch_ann_probe_partition_pruned_and_matches_st13(
    spark, sf_dir, tmp_path
):
    """Round-8 VERDICT item 7 — the PRODUCTION streaming ANN probe:
    foreach_batch_ann_probe must (a) reproduce the st13 oracle face's
    output exactly on the same grow-mid-stream dataset (chunk 1 × A,
    chunk 2 × (A∪B)), while (b) reading the on-disk index through a
    centroid PARTITION FILTER — the st13 face re-reads and joins the
    WHOLE index per batch, which is the thing this API replaces."""
    import re

    from etlbigdata_spark import workload
    from etlbigdata_spark.functions import similarity as fsim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    part_a = emb.filter(F.col("vec_id") % 3 == 1)
    part_b = emb.filter(F.col("vec_id") % 3 == 2)
    chunk1 = emb.filter(F.col("vec_id") % 6 == 0).unionByName(
        part_a.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
        )
    )
    chunk2 = emb.filter(F.col("vec_id") % 6 == 3).unionByName(
        part_b.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 300000).alias("vec_id"), "embedding"
        )
    )
    cents = fsim.semantic_centroids(part_a, n_centroids=8)
    idx = str(tmp_path / "idx")
    stage = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    fsim.ivf_write_index(part_a, idx, centroids=cents)
    chunk1.coalesce(1).write.mode("append").parquet(stage)

    collected: list = []
    scan_filters: list[str] = []

    def sink(res, epoch_id):
        collected.extend(res.collect())
        scan_filters.append(" ".join(n.meta.get("PartitionFilters", "") for n in walk(res)))

    # exclude_self=False mirrors the registered st14 face (round-9
    # advice: the st13 oracle never excludes self-pairs, and the default
    # True only passed here because this fixture has no id collisions)
    fn = ops.foreach_batch_ann_probe(
        sink, spark, idx, n_probe=1, round_to=6, threshold=0.99,
        exclude_self=False,
    )
    stream = ops.read_file_stream(spark, stage, chunk1.schema)
    ops.run_available_now(
        ops.write_stream_foreach_batch(stream, fn, "append").queryName("annp_d1"),
        ckpt,
    )
    fsim.ivf_append_index(part_b, idx)
    chunk2.coalesce(1).write.mode("append").parquet(stage)
    ops.run_available_now(
        ops.write_stream_foreach_batch(stream, fn, "append").queryName("annp_d2"),
        ckpt,
    )

    # (a) exact equivalence with the st13 oracle face
    want = {
        (r.id_stream, r.id_corpus, r.centroid, r.cosine)
        for r in workload.st13_stream_probe_appended_index(spark, sf_dir).collect()
    }
    got = {(r.query_id, r.neighbor_id, r.centroid, r.cosine) for r in collected}
    assert got == want and len(got) > 0

    # (b) every batch's index scan carries a centroid partition filter
    assert len(scan_filters) >= 2
    for filters in scan_filters:
        assert "centroid" in filters, scan_filters

    # (c) a small batch reads EXACTLY its queries' probed cells: 3 query
    # vectors at n_probe=1 → the isin list is those ≤3 cells, not all 8
    mini = chunk1.orderBy("vec_id").limit(3)
    expect_cells = {
        r.centroid
        for r in fsim._assign_cosine_argmax_blas(mini, cents, "embedding", "centroid")
        .select("centroid")
        .collect()
    }
    probe = fsim.ivf_probe_index(
        spark, idx, mini, n_probe=1, round_to=6, threshold=0.99
    )
    probe.collect()
    filters = " ".join(n.meta.get("PartitionFilters", "") for n in walk(probe))
    m = re.search(r"centroid#\d+ IN \(([^)]*)\)", filters)
    assert m, filters
    seen_cells = {int(x) for x in m.group(1).split(",")}
    assert seen_cells == expect_cells and len(seen_cells) <= 3 < 8


def test_c4_clean_and_chunking_are_stream_safe(spark, tmp_path):
    """Round-9 corpus ops through the REAL engine: c4_clean and
    chunk_documents are stateless map-side projections, so they must
    run unchanged on a streaming frame (no windows, no state) and the
    file-replay output must equal the batch output on the same rows."""
    from etlbigdata_spark.functions import corpus as fcorpus

    d = tmp_path / "docs_stream"
    d.mkdir()
    rows = [
        (1, "alpha beta gamma delta epsilon.\nno punct line here\nsecond good line here too."),
        (2, "one two three four five.\nsix seven eight nine ten!"),
        (3, "lorem ipsum placeholder.\nfine line with five words.\nanother fine line with words."),
        (4, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    ]
    schema = "doc_id long, text string"
    for name, part in (("b0", rows[:2]), ("b1", rows[2:])):
        pdf = pd.DataFrame(part, columns=["doc_id", "text"])
        pq.write_table(pa.Table.from_pandas(pdf), str(d / f"{name}.parquet"))
    batch_df = spark.read.schema(schema).parquet(str(d))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    cleaned_s = fcorpus.c4_clean(stream, min_words_per_line=4, min_lines=2)
    chunks_s = fcorpus.chunk_documents(stream, "doc_id", "text", chunk_tokens=4, stride=3)
    _replay(ops.write_stream_memory(cleaned_s, "c4_stream", "append"), tmp_path, "c4s")
    _replay(ops.write_stream_memory(chunks_s, "chunk_stream", "append"), tmp_path, "cks")

    got_c4 = {
        (r.doc_id, r.n_lines, r.n_lines_kept, r.clean_text)
        for r in spark.table("c4_stream").collect()
    }
    want_c4 = {
        (r.doc_id, r.n_lines, r.n_lines_kept, r.clean_text)
        for r in fcorpus.c4_clean(batch_df, min_words_per_line=4, min_lines=2).collect()
    }
    assert got_c4 == want_c4 and len(got_c4) > 0

    got_ck = {
        (r.doc_id, r.chunk_id, r.start, r.chunk_text)
        for r in spark.table("chunk_stream").collect()
    }
    want_ck = {
        (r.doc_id, r.chunk_id, r.start, r.chunk_text)
        for r in fcorpus.chunk_documents(
            batch_df, "doc_id", "text", chunk_tokens=4, stride=3
        ).collect()
    }
    assert got_ck == want_ck and len(got_ck) > 0
