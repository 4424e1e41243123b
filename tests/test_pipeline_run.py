"""End-to-end pipeline integration (§3.1 hot loop): snapshot + changes +
tombstones + metrics -> transactional sink, then self-validation over the
committed output with the engine's own validators (§5 as product)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE
from sqlserver_cdc_to_kafka_spark.operators.compaction import last_value_per_key
from sqlserver_cdc_to_kafka_spark.operators.validation import topic_summary
from sqlserver_cdc_to_kafka_spark.streaming.metrics import AccumulatingReporter
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.tables import load_table


def _setup(spark, sf_dir, tmp_path, batch_size=700):
    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    rep = AccumulatingReporter()
    run = PipelineRun(
        spark, orders, feed, ["o_orderkey"], sink, [rep], batch_size=batch_size
    )
    return orders, feed, sink, rep, run


def test_pipeline_end_to_end_with_self_validation(spark, sf_dir, tmp_path):
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    total = run.run()
    n_orders = orders.count()
    n_changes = feed.count()
    n_deletes = feed.filter(F.col("__operation") == OP_DELETE).count()
    assert total == n_orders + n_changes + n_deletes  # snapshots+changes+tombstones

    out = sink.read_committed(spark)
    assert out.count() == total

    # --- §5 validator 1 over our own output: counts by kind reconcile
    summary = topic_summary(
        out.filter(~F.col("__tombstone")).withColumn("t", F.lit("orders")),
        ["t"],
        ["o_orderkey"],
    ).collect()[0]
    assert summary["n_snapshots"] == n_orders
    assert summary["n_total"] == n_orders + n_changes
    assert summary["n_deletes"] == n_deletes

    # --- compaction over snapshot+changes+tombstones == replaying the feed
    live = last_value_per_key(
        out.withColumn(
            "order_in_batch",
            F.when(F.col("__tombstone"), F.lit(1)).otherwise(F.lit(0)),
        ).withColumn(
            # tombstones carry NULL change_seq (payload nulled); they sort
            # AFTER everything for their key (emitted right after the delete)
            "ordk",
            F.struct(
                F.coalesce("change_seq", F.lit(2**62)).alias("seq"),
                "order_in_batch",
            ),
        ),
        ["o_orderkey"],
        "ordk",
        drop_deleted=False,
    )
    # keys whose last record is a tombstone are gone after compaction
    gone = live.filter(F.col("__tombstone"))
    assert gone.count() == feed.filter(F.col("__operation") == OP_DELETE).count()

    # --- metrics reported for every committed batch
    assert len(rep.emitted) == run.batches_committed
    assert sum(m.rows for m in rep.emitted) == total


def test_pipeline_resume_after_crash(spark, sf_dir, tmp_path):
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path, batch_size=500)
    total_first = run.run()

    # "restart": a new PipelineRun against the same sink resumes the
    # snapshot from its last key and the changes from their last position
    # (both in the manifest), so a run with nothing new commits NOTHING
    orders2, feed2, sink2, rep2, run2 = _setup(spark, sf_dir, tmp_path, batch_size=500)
    assert run2.run() == 0
    assert run2.batches_committed == 0 and rep2.emitted == []
    assert sink2.read_committed(spark).count() == total_first

    # changes that arrive later are committed once each, under fresh ids
    more = feed.withColumn("change_seq", F.col("change_seq") + 1_000_000)
    run3 = PipelineRun(spark, orders, feed.unionByName(more), ["o_orderkey"], sink, [], 500)
    n_deletes = feed.filter(F.col("__operation") == OP_DELETE).count()
    assert run3.run() == feed.count() + n_deletes
    out = sink.read_committed(spark).filter(F.col("__operation") != 0)
    changes = out.filter(~F.col("__tombstone"))
    assert changes.count() == changes.select("change_seq").distinct().count() == 2 * feed.count()


def test_per_batch_job_budget(spark, sf_dir, tmp_path):
    """A drain runs at most three Spark jobs per committed batch, plus four
    for the final empty page and poll. The pipeline's own share is one job
    per page or poll (row count and position or resume key in one
    Observation) and one write per commit; the rest is the fixture feed's
    own shuffle, re-run by every poll. No job recomputes a position that
    the batch already gave."""
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path, batch_size=500)
    sc = spark.sparkContext
    group = f"job-budget-{tmp_path.name}"
    sc.setJobGroup(group, "per-batch job budget")
    try:
        total = run.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert total == sink.read_committed(spark).count()
    assert run.batches_committed >= 6  # several pages and change batches
    assert jobs <= 3 * run.batches_committed + 4


def test_sink_log_compaction(spark, sf_dir, tmp_path):
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    resume_before = sink.last_progress()
    snapshot_key_before = sink.last_snapshot_key()
    n_batches_before = len(sink.committed_batches())
    assert n_batches_before > 1

    n_live = sink.compact(spark, ["o_orderkey"])

    # surviving keys = all orders minus deleted ones (fixture: delete ⊂ insert)
    n_deleted = feed.filter(F.col("__operation") == OP_DELETE).count()
    assert n_live == orders.count() - n_deleted

    out = sink.read_committed(spark)
    assert out.count() == n_live
    assert out.select("o_orderkey").distinct().count() == n_live
    # compaction must not move either resume point
    assert sink.last_progress() == resume_before
    assert sink.last_snapshot_key() == snapshot_key_before is not None
    assert len(sink.committed_batches()) == 1

    # deleted keys are really gone; updated keys carry the updated status
    deleted_keys = {r[0] for r in feed.filter(F.col("__operation") == 1)
                    .select("o_orderkey").collect()}
    live_keys = {r[0] for r in out.select("o_orderkey").collect()}
    assert not (deleted_keys & live_keys)
    updated = out.filter((F.col("o_orderkey") % 5 == 0))
    assert updated.filter(F.col("o_orderstatus") != "U").count() == 0


def test_reset_progress_wipes_everything(spark, sf_dir, tmp_path):
    from sqlserver_cdc_to_kafka_spark.streaming.sinks import reset_progress

    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    assert sink.last_progress() is not None
    reset_progress(sink)
    assert sink.last_progress() is None
    assert sink.committed_batches() == {}
    # a fresh run re-snapshots and re-tails from scratch
    orders2, feed2, sink2, rep2, run2 = _setup(spark, sf_dir, tmp_path)
    total = run2.run()
    assert total > 0
    assert sink2.read_committed(spark).count() == total


def test_foreachbatch_binding_with_readstream(spark, sf_dir, tmp_path):
    """readStream → foreachBatch(TransactionalDirSink) → exactly-once across
    a restart: Spark checkpoint replays the epoch, the sink dedupes it."""
    import shutil

    from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import (
        foreach_batch_writer,
    )
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("event_id").alias("change_seq"),
    )
    src = tmp_path / "src"; src.mkdir()
    ckpt = tmp_path / "ckpt"
    for i, part in enumerate([ev.filter(F.col("event_id") < 500),
                              ev.filter(F.col("event_id") >= 500)]):
        stage = tmp_path / f"s{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copyfile(next(stage.glob("part-*.parquet")), src / f"{i}.parquet")

    sink = TransactionalDirSink(str(tmp_path / "out"), "events")
    writer = foreach_batch_writer(sink)
    jobs_per_batch: list[int] = []

    def counted(batch, batch_id):
        # one job for the row count and position, one for the write
        sc = batch.sparkSession.sparkContext
        group = f"foreach-batch-{len(jobs_per_batch)}-{tmp_path.name}"
        sc.setJobGroup(group, "foreach_batch_writer")
        writer(batch, batch_id)
        jobs_per_batch.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    def run_once():
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(counted)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert jobs_per_batch == [2, 2]
    n1 = sink.read_committed(spark).count()
    assert n1 == ev.count()
    run_once()  # restart with nothing new: no dupes
    assert sink.read_committed(spark).count() == n1
    assert sink.last_progress() == ev.agg(F.max("event_id")).collect()[0][0]


def test_compaction_twice_with_new_batches_between(spark, sf_dir, tmp_path):
    """Second compaction over (compacted generation + fresh batches)."""
    orders, feed, sink, rep, run = _setup(spark, sf_dir, tmp_path)
    run.run()
    n1 = sink.compact(spark, ["o_orderkey"])
    # new change batch arrives after compaction: re-insert 5 deleted keys
    deleted = feed.filter(F.col("__operation") == 1).limit(5)
    revived = deleted.withColumn("__operation", F.lit(2)).withColumn(
        "change_seq", F.col("change_seq") + 1_000_000
    ).withColumn("__tombstone", F.lit(False))
    next_id = max(sink.committed_batches()) + 1
    assert sink.commit_batch(revived, next_id, 99_999_999)
    n2 = sink.compact(spark, ["o_orderkey"])
    assert n2 == n1 + 5
    assert sink.last_progress() == 99_999_999
    out = sink.read_committed(spark)
    assert out.count() == n2
