"""Streaming semantics tests (SURVEY §2.9): micro-batch pull with positions
and resume, backpressure signaling, tombstones, snapshot+change unification,
and real Structured Streaming watermarked windows."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.functions.datetime_fns import as_event_time
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import (
    MicroBatcher,
    with_tombstones,
)
from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import (
    SnapshotStream,
    as_change_rows,
    unified_feed,
)
from sqlserver_cdc_to_kafka_spark.streaming.windows import (
    parquet_row_count,
    read_events_stream,
    run_stream_to_memory,
    streaming_dedupe,
    windowed_counts,
)
from sqlserver_cdc_to_kafka_spark.tables import load_table


def test_microbatcher_exactly_once_progress_and_resume(spark, sf_dir):
    feed = cdc_events(spark, sf_dir)
    total_rows = feed.count()
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    seen: list[tuple[int, int]] = []
    mb = MicroBatcher(
        feed,
        batch_size=500,
        sink=lambda df, pos: seen.append(
            (df.count(), pos, df.agg(F.max("change_seq")).collect()[0][0])
        ),
    )
    emitted = mb.run_to_completion()
    assert emitted == total_rows
    assert sum(n for n, _, _ in seen) == total_rows
    # backpressure signal: every batch except the last is exactly full (T3)
    assert all(n == 500 for n, _, _ in seen[:-1])
    # each batch's position handed to the sink is its own max index, and the
    # batcher's offset ends at the feed's max (T2 resume point)
    assert all(pos == batch_max for _, pos, batch_max in seen)
    assert mb.offset == seen[-1][1] == max_seq
    # resuming a fresh batcher from the stored offset emits nothing
    assert MicroBatcher(feed, batch_size=500, offset=mb.offset).run_once() == 0


def test_tombstones_follow_deletes(spark, sf_dir):
    feed = cdc_events(spark, sf_dir)
    out = with_tombstones(feed, ["o_orderkey"])
    n_deletes = feed.filter(F.col("__operation") == 1).count()
    tombs = out.filter(F.col("__tombstone"))
    assert tombs.count() == n_deletes
    assert tombs.filter(F.col("o_custkey").isNotNull()).count() == 0


def test_snapshot_stream_reverse_pagination_no_dupes_no_gaps(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    ss = SnapshotStream(orders, ["o_orderkey"], batch_size=400)
    keys: list[int] = []
    while True:
        page = ss.next_page()
        if page is None:
            break
        page_keys = [r["o_orderkey"] for r in page.select("o_orderkey").collect()]
        # reverse order within each page (T7 invariant)
        assert page_keys == sorted(page_keys, reverse=True)
        keys.extend(page_keys)
        page.unpersist()
    assert len(keys) == orders.count()
    assert len(set(keys)) == len(keys)  # no double-reads
    assert keys == sorted(keys, reverse=True)  # globally descending


def test_unified_feed_carries_both_snapshot_and_changes(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").limit(100)
    feed = cdc_events(spark, sf_dir).limit(50)
    ss = SnapshotStream(orders, ["o_orderkey"], batch_size=100)
    page = ss.next_page()
    unified = unified_feed([page], feed)
    ops = {r["__operation"] for r in unified.select("__operation").distinct().collect()}
    assert 0 in ops  # snapshot rows present
    assert ops - {0}  # change rows present
    assert unified.count() == 150


def test_snapshot_page_as_change_rows_takes_the_feed_schema(spark, sf_dir):
    """A page becomes rows of exactly the feed's columns and types, even when
    the page has extra columns, lacks some, or types a column differently,
    so snapshot and change batches write one parquet schema."""
    feed = cdc_events(spark, sf_dir)
    page = (
        load_table(spark, sf_dir, "orders")
        .limit(10)
        .drop("o_orderpriority")  # missing from the page: typed NULL
        .withColumn("o_custkey", F.col("o_custkey").cast("int"))  # narrower
    )
    rows = as_change_rows(page, feed)
    assert [(f.name, f.dataType) for f in rows.schema.fields] == [
        (f.name, f.dataType) for f in feed.schema.fields
    ]
    got = rows.collect()
    assert len(got) == 10
    assert {r["__operation"] for r in got} == {0}
    assert all(r["change_seq"] is None and r["o_orderpriority"] is None for r in got)
    # the envelope lists only the columns the snapshot row carries
    assert "o_orderpriority" not in got[0]["__updated_fields"]
    assert "o_orderkey" in got[0]["__updated_fields"]


def test_parquet_row_count_sums_a_dataset_directory(tmp_path):
    """A multi-file dataset directory (as Spark writes one) counts from its
    files' footers; marker and checksum files are skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "part-00000.parquet")
    pq.write_table(pa.table({"a": [4, 5]}), tmp_path / "part-00001.parquet")
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / ".part-00000.parquet.crc").write_text("not parquet")
    assert parquet_row_count(str(tmp_path)) == 5
    assert parquet_row_count(str(tmp_path / "part-00001.parquet")) == 2


def test_streaming_windowed_counts_match_batch(spark, sf_dir):
    ev_stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(windowed_counts(ev_stream), "win_out")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    # batch equivalent over the same data; append mode only emits windows
    # whose end is past the final watermark (max event time - 30 min), so
    # apply the same cutoff to the batch side.
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("event_time", as_event_time(ev, "ts"))
    cutoff = ev.agg(
        (F.max("event_time") - F.expr("INTERVAL 30 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.window("event_time", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
        .filter(F.col("window_end") <= F.lit(cutoff))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_dedupe_drops_duplicate_ids(spark, sf_dir):
    ev_stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(streaming_dedupe(ev_stream), "dedupe_out")
    n = spark.sql("SELECT COUNT(*) AS n FROM dedupe_out").collect()[0]["n"]
    n_src = load_table(spark, sf_dir, "events").count()
    assert n == n_src  # fixture ids are unique; dedupe must not drop real rows
