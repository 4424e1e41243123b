"""Real Structured Streaming wrappers over the `events` fixture: watermarked
event-time windows and streaming dedupe — capabilities the reference lacks
(SURVEY §2.9 note) that Spark provides natively (T1/T8 analogs).

The events parquet's `ts` dtype varies by testdata vintage (TIMESTAMP micros
today; historically TIMESTAMP(NANOS) surfaced as epoch-nanos LONG via
nanosAsLong) — the streaming schema is derived from the actual file footer
and the event-time column is rebuilt via the same dtype dispatch the batch
path uses (functions.datetime_fns)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import as_event_time


def state_partitions(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 25_000, floor: int = 8
) -> int:
    """Scale-adaptive state-store partition count for the drain witnesses
    (r16, from the committed per-micro-batch breakdown in
    STREAMPROFILE_r16.json).

    A streaming stateful operator runs one state store (the symmetric hash
    join runs FOUR) per shuffle partition per micro-batch, and every store
    commit is a delta file + fsync plus a full eviction scan. With the
    session's 32 shuffle partitions, the two heavy drain witnesses paid
    128-512 store commits per run while holding a few KB of state per
    store — measured: batches with 0-2 input rows spent 10-22 s almost
    entirely in state commit (fsync here costs ~20 ms/file). Partition
    count now derives from the staged feed's row count (guide §2.2 "fewer,
    larger partitions" applied to state deltas), floored for parallelism
    and CAPPED at the session's shuffle partitions, so at scale (rows >>
    25k x cores) this is a no-op and the cluster default rules. Output is
    partition-count invariant (pinned by the oracle across SFs and by the
    check_oracle --shuffle-partitions probes)."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(cap, max(floor, n_rows // rows_per_partition))


class scoped_shuffle_partitions:
    """Set spark.sql.shuffle.partitions around a synchronous streaming
    drain (the value is read at query START and baked into the checkpoint;
    both passes of a two-phase drain see the same scoped value) and restore
    it on exit — the drains run inside shared bench/oracle sessions whose
    global setting must not drift."""

    def __init__(self, spark: SparkSession, n: int) -> None:
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def parquet_row_count(path: str) -> int:
    """Exact row count of a parquet file or dataset directory, summed from
    the files' footers — no data read. Like Spark, a directory's files whose
    names start with ``_`` or ``.`` (``_SUCCESS``, checksums) are skipped."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def drained(df: DataFrame, scratch: str) -> DataFrame:
    """Pin a drain result off its scratch files, then remove them.

    Every ``*_drain`` helper stages its source/sink/checkpoint under a
    per-run scratch dir, and the parquet read of the sink is LAZY — the
    files must outlive the returned plan. An eager ``localCheckpoint``
    materializes the (bounded: aggregates/matches, never the raw stream)
    result into block storage so the scratch dir can be deleted before
    returning, closing the per-invocation temp leak the markov drain was
    first flagged for. Cleanup is success-path and best-effort — it must
    never fail a green drain."""
    out = df.localCheckpoint(eager=True)
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """The ACTUAL schema of the events fixture, read from the parquet footer
    via a batch scan (schema-only; no data read). Hard-coding the schema here
    silently corrupted every event when the testdata's `ts` migrated from
    nanos-LONG to TIMESTAMP micros — a wrong explicit readStream schema
    reinterprets the raw int64 without error."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table (file micro-batch source) with a
    real TimestampType event-time column for watermarking."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The fixture is a single parquet file but FileStreamSource requires a
    # directory (it forces basePath to the stream path internally), so stage
    # the file into a scratch directory and stream that.
    src = f"{sf_dir}/events.parquet"
    stage = os.path.join(tempfile.gettempdir(), "spark_events_stream", sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stage, exist_ok=True)
    dst = os.path.join(stage, "events.parquet")
    if not os.path.exists(dst) or os.path.getmtime(dst) < os.path.getmtime(src):
        shutil.copyfile(src, dst)
    raw = (
        spark.readStream.schema(events_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return raw.withColumn("event_time", as_event_time(raw, "ts"))


def windowed_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data beyond the
    watermark is dropped — the reference's T8 'lateness' analog)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_duration), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_dedupe(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """T9 analog: drop duplicate event ids within the watermark horizon
    (the reference's capture-instance-overlap dedupe, restated as
    dropDuplicates on the stream)."""
    return events.withWatermark("event_time", watermark).dropDuplicates(["event_id"])


def windowed_counts_file_sink(
    spark: SparkSession,
    sf_dir: str,
    agg_builder,
    window_micros: int = 3_600_000_000,
    watermark_micros: int = 1_800_000_000,
) -> DataFrame:
    """SCALE PATH for streaming windowed aggregation: append-mode parquet
    sink + checkpoint — the shape that survives 100 TB. Complete-mode memory
    sinks land the entire aggregate in the driver every micro-batch; append
    mode emits each window exactly once, when the watermark passes it, and
    the sink is a distributed file write.

    Append mode withholds windows still inside the watermark horizon at
    end-of-stream, so to emit EVERY real window (and hash-match the batch
    oracle) a far-future *sentinel* event advances the final watermark past
    all real windows; the sentinel's own window — the only state left open —
    is never emitted.

    Ordering is made explicit by TWO-PHASE STAGING (not mtime): phase 1
    stages only the real files and runs an availableNow pass to completion —
    the checkpoint then holds every real event's window state. Phase 2 adds
    the sentinel file and restarts the same query on the same checkpoint:
    FileStreamSource's seen-files log guarantees the second pass reads ONLY
    the sentinel, so no real event can land behind the advanced watermark
    regardless of file count, listing order, or filesystem mtime
    granularity (the previous single-pass design relied on a +100 s utime
    nudge and FileStreamSource's mtime sort).

    ``agg_builder(events_df) -> DataFrame`` builds the watermarked window
    aggregation (must include a TimestampType ``window_start`` column).
    Returns the sink read back as a batch DataFrame, sentinel window
    excluded defensively.
    """
    import uuid

    from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import (
        as_event_time,
        epoch_micros,
    )

    # events.ts may be TIMESTAMP(NANOS) on older testdata vintages — keep
    # the batch reads below in lockstep with events_schema/load_table
    # (always dispatch on the actual dtype; never let the scan throw)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    run_id = uuid.uuid4().hex[:12]
    scratch = os.path.join(tempfile.gettempdir(), f"windrain_{run_id}")
    stage = os.path.join(scratch, "src")
    outdir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(stage)

    src = f"{sf_dir}/events.parquet"
    shutil.copyfile(src, os.path.join(stage, "a_events.parquet"))

    batch = spark.read.parquet(src)
    max_us = batch.select(F.max(epoch_micros(batch, "ts")).alias("m")).collect()[0]["m"]
    # r16: state partitions sized to the feed (see state_partitions) — both
    # passes run under the same scoped value (checkpoint-pinned)
    n_state = state_partitions(spark, parquet_row_count(src))
    # far enough that (sentinel - watermark) > end of every real window
    sentinel_us = (
        (max_us // window_micros + 2) * window_micros + watermark_micros + window_micros
    )
    sentinel_cutoff_us = (sentinel_us // window_micros) * window_micros

    def _run_pass() -> None:
        raw = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        events = raw.withColumn("event_time", as_event_time(raw, "ts"))
        with scoped_shuffle_partitions(spark, n_state):
            q = (
                agg_builder(events)
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # phase 1: real events only — runs to completion, committing every real
    # file into the checkpoint's seen-files log
    _run_pass()

    # phase 2: stage the sentinel row (in the fixture's OWN ts dtype) and
    # rerun on the same checkpoint — only the sentinel is unseen, so it is
    # guaranteed to be the last micro-batch
    ts_dt = batch.schema["ts"].dataType
    if isinstance(ts_dt, T.LongType):
        ts_val = sentinel_us * 1000  # epoch-nanos form
    else:
        import datetime as _dt

        naive = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=sentinel_us)
        ts_val = (
            naive.replace(tzinfo=_dt.timezone.utc)
            if isinstance(ts_dt, T.TimestampType)
            else naive
        )
    row = tuple(ts_val if f.name == "ts" else None for f in batch.schema.fields)
    sent_tmp = os.path.join(scratch, "sentinel_tmp")
    spark.createDataFrame([row], batch.schema).coalesce(1).write.parquet(sent_tmp)
    part = next(
        f for f in os.listdir(sent_tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    shutil.copyfile(os.path.join(sent_tmp, part), os.path.join(stage, "z_sentinel.parquet"))
    _run_pass()

    out = spark.read.parquet(outdir)
    return drained(
        out.filter(F.unix_micros(F.col("window_start")) < F.lit(sentinel_cutoff_us)),
        scratch,
    )


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming query to completion against the memory sink (test
    harness; production uses kafka/parquet sinks + checkpoints)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q
