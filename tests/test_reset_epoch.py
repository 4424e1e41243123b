"""Progress resets and the batch ids after them.

1. A rerun after ``TransactionalDirSink.reset_progress`` must re-ingest the
   whole feed, and the topic must then hold each change exactly once. The
   sink never reuses a batch id, so the rerun's batches cannot collide with
   the pre-reset ones; instead the rerun's first batch supersedes all
   pre-reset batches of its kind. That holds whatever the batch sizes: a
   rule that matched re-ingested batches to old ones by id left old rows
   behind whenever the rerun cut the feed into fewer batches.

2. ``last_progress`` must treat a tombstone as a resume boundary only for
   its own kind — a reset scoped to snapshot_rows must not wipe the
   change_rows resume point (per-(topic, kind) scoping, like the
   reference's progress tracking).

3. Compaction must wait for the rerun: a compacted generation is always
   read and carries no reset record, so compacting in between would leave
   the pre-reset rows next to the rerun's copy of them.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.tables import load_table


def _run_batcher(feed, sink, batch_size=700):
    mb = MicroBatcher(
        feed,
        batch_size=batch_size,
        sink=sink.commit_batch,
        offset=sink.last_progress(),
    )
    return mb.run_to_completion()


def test_sink_attached_rerun_after_reset_reingests_everything(
    spark, sf_dir, tmp_path
):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    n_feed = feed.count()
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    sink = TransactionalDirSink(str(tmp_path / "t"), "t")

    assert _run_batcher(feed, sink) == n_feed
    assert sink.last_progress() == max_seq

    assert sink.reset_progress() == 1
    assert sink.last_progress() is None

    # the critical path: a SINK-ATTACHED rerun from scratch. Every batch
    # must commit (not be dropped as already committed), and the resume
    # point must advance past the tombstone to the re-ingested position.
    assert _run_batcher(feed, sink) == n_feed
    assert sink.last_progress() == max_seq
    # the re-ingested batches supersede the pre-reset ones: the table holds
    # the corpus exactly once
    assert sink.read_committed(spark).count() == n_feed

    # and a crash-replay of an already-committed post-reset position is
    # still a no-op (idempotence preserved after the reset)
    batch = feed.filter(F.col("change_seq") < 700)
    assert sink.commit_batch(batch, batch.agg(F.max("change_seq")).collect()[0][0]) is None


def test_rerun_after_reset_with_another_batch_size_holds_each_change_once(
    spark, sf_dir, tmp_path
):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    n_feed = feed.count()
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    sink = TransactionalDirSink(str(tmp_path / "t"), "t")
    assert _run_batcher(feed, sink, batch_size=700) == n_feed
    assert len(sink.committed_batches()) > 1  # several pre-reset batches

    assert sink.reset_progress() == 1
    # the rerun cuts the feed into other batches than the first run did
    assert _run_batcher(feed, sink, batch_size=1000) == n_feed
    out = sink.read_committed(spark)
    assert out.count() == out.select("change_seq").distinct().count() == n_feed
    assert sink.last_progress() == max_seq


def test_tombstone_only_bounds_its_own_kind(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    sink = TransactionalDirSink(str(tmp_path / "t"), "t")
    _run_batcher(feed, sink)

    # hand-write a snapshot_rows record then reset ONLY snapshot_rows
    with open(sink.manifest_path, "a") as f:
        f.write(
            json.dumps(
                {
                    "topic": "t",
                    "kind": "snapshot_rows",
                    "position": "key=42",
                    "batch_id": 999,
                }
            )
            + "\n"
        )
    assert sink.last_progress("snapshot_rows") == "key=42"
    assert sink.reset_progress(kinds=("snapshot_rows",)) == 1

    # snapshot progress wiped; change_rows resume UNAFFECTED
    assert sink.last_progress("snapshot_rows") is None
    assert sink.last_progress() == max_seq
    assert sink.last_progress("change_rows") == max_seq


@pytest.mark.parametrize("kind", ["change_rows", "snapshot_rows"])
def test_compaction_waits_for_the_rerun_after_a_reset(spark, sf_dir, tmp_path, kind):
    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    sink = TransactionalDirSink(str(tmp_path / "orders"), "orders")

    def run():
        return PipelineRun(spark, orders, feed, ["o_orderkey"], sink, batch_size=700).run()

    first = run()
    assert sink.reset_progress((kind,)) == 1
    with open(sink.manifest_path, "rb") as f:
        manifest = f.read()
    data = sorted(os.listdir(os.path.join(sink.root, "data")))
    with pytest.raises(ValueError, match=kind):
        sink.compact(spark, ["o_orderkey"])
    with open(sink.manifest_path, "rb") as f:
        assert f.read() == manifest
    assert sorted(os.listdir(os.path.join(sink.root, "data"))) == data

    # the rerun re-emits the reset kind, whose first batch supersedes the
    # pre-reset rows: each order and change is in the topic once
    assert run() > 0
    out = sink.read_committed(spark)
    snap = out.filter("__operation = 0")
    changes = out.filter("__operation != 0 AND NOT __tombstone")
    n_orders, n_feed = orders.count(), feed.count()
    assert snap.count() == snap.select("o_orderkey").distinct().count() == n_orders
    assert changes.count() == changes.select("change_seq").distinct().count() == n_feed
    assert out.count() == first

    # now compaction runs, and leaves one row per live key
    n_deleted = feed.filter(F.col("__operation") == OP_DELETE).count()
    n_live = sink.compact(spark, ["o_orderkey"])
    assert n_live == n_orders - n_deleted
    compacted = sink.read_committed(spark)
    assert compacted.count() == compacted.select("o_orderkey").distinct().count() == n_live
