"""End-to-end pipeline run — the reference's hot loop (§3.1, main.py:203-353)
composed from the engine's parts:

per cycle: snapshot pages interleave with change micro-batches (T7) →
tombstones appended after deletes (T6) → batch + progress committed together
(T2, manifest transaction) → metrics observed in-job and reported (A9/X2).

This is the package's one way to run a table: the CLI's pipeline mode and
the benchmark both drive it, so every run gets the same manifest, resume
point, tombstones and metrics. The sink's manifest is the only progress
record: a run resumes its changes from ``sink.last_progress()`` and its
snapshot from ``sink.last_snapshot_key()``, and the sink assigns each
batch's id, so a rerun after a crash or after new changes commits exactly
what is missing, and a reset of one progress kind re-runs only that kind.
Each batch costs one job for its poll or page (row count and position or
resume key, see ``metrics.summarize``) and one write job, which also fills
its metrics."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.streaming.change_feed import (
    MicroBatcher,
    with_tombstones,
)
from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
    ReporterBase,
    observed_batch,
    report_batch,
    summarize,
)
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import (
    SnapshotStream,
    as_change_rows,
)


@dataclass
class PipelineRun:
    """Drive one table's snapshot + change feed to completion against a
    transactional sink, reporting metrics per batch. ``tombstones=False`` is
    ``disable_deletion_tombstones``: deletes are still emitted, only the
    (key, null) row after each is not."""

    spark: SparkSession
    source_table: DataFrame
    change_feed: DataFrame
    key_cols: list[str]
    sink: TransactionalDirSink
    reporters: list[ReporterBase] = field(default_factory=list)
    batch_size: int = 2000
    batches_committed: int = 0
    rows_committed: int = 0
    tombstones: bool = True

    def run(self) -> int:
        """Interleave snapshot pages with change micro-batches, as the
        reference fills the gap between CDC polls with snapshot work
        (main.py:214-267). Returns total rows committed (snapshot rows +
        change rows + tombstones)."""
        snap = SnapshotStream(
            self.source_table, self.key_cols, self.batch_size, self.sink.last_snapshot_key()
        )
        mb = MicroBatcher(
            self.change_feed,
            batch_size=self.batch_size,
            sink=self._commit_changes,
            offset=self.sink.last_progress(),
        )
        while True:
            page = snap.next_page()
            if page is not None:
                rows = as_change_rows(page, self.change_feed)
                self._commit(rows.withColumn("__tombstone", F.lit(False)), None, snap.last_key)
                page.unpersist()
            emitted = mb.run_once()
            if snap.completed and emitted < self.batch_size:
                return self.rows_committed

    # -- internals ---------------------------------------------------------

    def _commit_changes(self, batch: DataFrame, position) -> None:
        if self.tombstones:
            batch = with_tombstones(batch, self.key_cols)
        else:
            batch = batch.withColumn("__tombstone", F.lit(False))
        self._commit(batch, position)

    def _commit(self, batch: DataFrame, position, snapshot_key=None) -> None:
        """Commit one batch at ``position`` (None for snapshot pages, whose
        progress is their ``snapshot_key``, not an index). The Observation
        is filled by the sink's write job. A replay (a second writer got
        there first) runs no write, so its Observation would never fill."""
        observed, obs = observed_batch(batch)
        t0 = time.time()
        batch_id = self.sink.commit_batch(observed, position, snapshot_key)
        if batch_id is None:
            return
        m = report_batch(obs.get, batch_id, time.time() - t0, self.reporters)
        self.batches_committed += 1
        self.rows_committed += m.rows


def foreach_batch_writer(sink: TransactionalDirSink, idx_col: str = "change_seq"):
    """The production binding (§3.1 Spark restatement): a foreachBatch
    function committing every micro-batch through the transactional sink.
    Spark's checkpoint provides replay, and a replayed micro-batch has the
    same offsets, hence the same max ``idx_col``: the sink recognises it by
    that position and skips it, which makes the replay exactly-once (T2) —
    the pair is the reference's data+progress Kafka transaction. Spark's
    batch id is not used; the sink assigns its own. A micro-batch costs two
    jobs: one for its row count and position, and the write."""

    def write(batch: DataFrame, _spark_batch_id: int) -> None:
        head = summarize(batch, F.count(F.lit(1)).alias("n"), F.max(idx_col).alias("pos"))
        if head["n"]:
            sink.commit_batch(batch, head["pos"])

    return write
