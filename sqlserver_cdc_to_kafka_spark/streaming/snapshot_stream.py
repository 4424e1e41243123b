"""Snapshot + change-stream unification (SURVEY §2.9 T7).

Reference behavior (``main.py:214-267``, ``build_startup_state.py:230-232``):
the initial snapshot backfill runs CONCURRENTLY with change tailing on the
same topic. Snapshot pages read high-key → low-key so rows inserted after
the snapshot's start (which have higher keys) arrive only via CDC — no
double-read and no gap. Snapshot rows carry op=Snapshot and NULL LSN.

Spark restatement: the snapshot is a bounded keyset-paged stream interleaved
with the change micro-batches. ``as_change_rows`` is the one place a page
becomes change-feed rows, for both the pipeline's commits and
``unified_feed``, so a snapshot row looks the same wherever it is emitted."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.sources.snapshot import snapshot_envelope, snapshot_page
from sqlserver_cdc_to_kafka_spark.streaming.metrics import summarize


@dataclass
class SnapshotStream:
    """Resumable reverse-keyset snapshot pager (S2 driven as a stream).
    Progress = the last (lowest) key tuple emitted; resume seeks strictly
    below it (tracked_tables.py:219-256)."""

    source: DataFrame
    key_cols: list[str]
    batch_size: int = 2000
    last_key: tuple | None = None
    completed: bool = False

    def next_page(self) -> DataFrame | None:
        """None once the table is exhausted (snapshot-completed sentinel,
        constants.py:35).

        The resume key is a one-row aggregate (``min(struct(key_cols))`` —
        the page scans high→low, so its minimum key is the last row emitted),
        computed in the job that fills the page's cache; the page itself
        never leaves the executors. Collecting the whole 2,000-row page to
        read one key would be a driver-memory risk with wide/blob rows."""
        if self.completed:
            return None
        page = snapshot_page(
            self.source, self.key_cols, self.last_key, self.batch_size
        ).cache()
        summary = summarize(
            page,
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct(*self.key_cols)).alias("low_key"),
        )
        if summary["n"] == 0:
            page.unpersist()
            self.completed = True
            return None
        self.last_key = tuple(summary["low_key"][c] for c in self.key_cols)
        if summary["n"] < self.batch_size:
            self.completed = True
        return page


def as_change_rows(page: DataFrame, feed: DataFrame) -> DataFrame:
    """T7: a snapshot page as rows of ``feed`` — the snapshot envelope (op=0,
    NULL LSN, snapshot read time) over the page's columns that the feed
    carries, then exactly the feed's columns, each cast to the feed's type.
    Columns the page lacks are typed NULLs. Snapshot and change rows then
    share one schema, so every batch a sink commits has the same parquet
    schema."""
    env = snapshot_envelope(page.select(*[c for c in page.columns if c in feed.columns]))
    return env.select(
        *[
            (F.col(f.name) if f.name in env.columns else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in feed.schema.fields
        ]
    )


def unified_feed(snapshot_pages: list[DataFrame], change_batch: DataFrame) -> DataFrame:
    """T7: one output feed carrying both snapshot rows (op=0, NULL LSN) and
    change rows, on the shared envelope schema."""
    out = change_batch
    for p in snapshot_pages:
        out = out.unionByName(as_change_rows(p, change_batch))
    return out
