"""Pull-mode change feed (SURVEY §2.9 T1-T6): poll, tombstone, hand off.

The reference's hot loop (``cdc_kafka/main.py:203-353``) polls CDC tables on
a 3-10 s cadence, produces each batch together with its progress record in
one Kafka transaction, and emits delete tombstones. Here:

- **poll** (T1/T3): ``poll_window`` is one trigger's keyset scan — rows after
  the stored offset, capped at ``batch_size`` in index order. A full batch
  means the table is still behind, so the caller polls again at once.
- **hand off** (T2): ``MicroBatcher`` passes each batch to its sink callback
  with the batch's last index. The sink writes data and that position
  together (``sinks.TransactionalDirSink``), so the sink's manifest is the
  one progress log: a restart reads its resume point there and sets
  ``MicroBatcher.offset``. The batcher keeps no log of its own, which would
  only be a second copy that can disagree with the committed one.
- **tombstones** (T6): ``with_tombstones`` appends a (key, null) row after
  every delete.

One feed needs no frontier: every row it holds is at or below its own max.
The multi-feed frontier (emit only up to the slowest table) is
``operators.merge.common_frontier``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.model.envelope import OP_DELETE
from sqlserver_cdc_to_kafka_spark.streaming.metrics import summarize

MIN_POLL_INTERVAL_S = 3  # constants.py:6
MAX_POLL_INTERVAL_S = 10  # constants.py:7
DEFAULT_BATCH_SIZE = 2000  # options.py:282-285


def poll_window(
    feed: DataFrame,
    after,
    idx_col: str = "change_seq",
    max_rows: int = DEFAULT_BATCH_SIZE,
) -> DataFrame:
    """One trigger's pull (S1 as a micro-batch): rows strictly after the
    stored offset, capped at max_rows in index order —
    ``maxOffsetsPerTrigger`` semantics (T3)."""
    return (
        feed.filter(F.col(idx_col) > F.lit(after))
        .orderBy(idx_col)
        .limit(max_rows)
    )


def with_tombstones(
    batch: DataFrame, key_cols: Sequence[str], op_col: str = "__operation"
) -> DataFrame:
    """T6: append a (key, null-payload) companion row after every Delete.
    Tombstones sort directly after their delete event (same index, higher
    emission order) so compaction applies them last."""
    payload = [c for c in batch.columns if c not in key_cols and c != op_col]
    tombs = batch.filter(F.col(op_col) == OP_DELETE).select(
        F.col(op_col),
        *key_cols,
        *[F.lit(None).cast(batch.schema[c].dataType).alias(c) for c in payload],
        F.lit(True).alias("__tombstone"),
    )
    return batch.withColumn("__tombstone", F.lit(False)).unionByName(tombs)


@dataclass
class MicroBatcher:
    """Pull-mode micro-batch driver over a bounded feed (the shape of a
    foreachBatch JDBC puller). ``offset`` is the last index already handed
    off; set it from the sink's ``last_progress()`` to resume. The sink
    callback gets ``(batch, position)``, where ``position`` is the batch's
    max index, so the sink can commit data and progress together
    (main.py:319-350's transaction, restated) without recomputing it. Batch
    ids are the sink's business (``TransactionalDirSink.commit_next``)."""

    feed: DataFrame
    idx_col: str = "change_seq"
    batch_size: int = DEFAULT_BATCH_SIZE
    sink: Callable[[DataFrame, object], None] | None = None
    offset: object = None

    def run_once(self) -> int:
        """One trigger: poll → hand off → advance. Returns emitted rows.
        A full batch (== batch_size) signals a lagging table: the caller
        should immediately re-trigger (T3) instead of waiting the poll
        interval."""
        after = self.offset if self.offset is not None else -1
        batch = poll_window(self.feed, after, self.idx_col, self.batch_size).cache()
        try:
            # one job for both: the row count decides, the max is the offset
            head = summarize(
                batch, F.count(F.lit(1)).alias("n"), F.max(self.idx_col).alias("pos")
            )
            if head["n"] == 0:
                return 0
            if self.sink is not None:
                self.sink(batch, head["pos"])
            self.offset = head["pos"]
            return head["n"]
        finally:
            batch.unpersist()

    def run_to_completion(self, max_batches: int = 10_000) -> int:
        total = 0
        for _ in range(max_batches):
            n = self.run_once()
            total += n
            if n < self.batch_size:
                break
        return total
