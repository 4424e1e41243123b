"""Sinks: exactly-once batch commits + tombstone-aware keyed output
(SURVEY §2.1 S9/S11, §2.9 T2/T6).

Reference behavior: every micro-batch's data messages AND per-topic progress
records are produced inside ONE Kafka transaction (``main.py:319-350``,
``kafka.py:134-156``) — a crash never leaves data without progress or
vice versa. Spark's Kafka sink alone is at-least-once, so the idiomatic
restatement is ``foreachBatch`` + an idempotent, batch-id-keyed commit
protocol — which is exactly what Structured Streaming's own file sink does
with its manifest log, generalized here so any directory-backed format gets
it.

``TransactionalDirSink`` implements that protocol without external
dependencies (no Kafka broker in this environment; swapping ``_write_files``
for a transactional producer keyed by batch id gives the Kafka version):

1. write the batch under ``_staging/batch=<id>/`` (side-effect-free retry);
2. atomically rename into place;
3. append the progress record ``(topic, kind, position, batch_id)``, plus
   a snapshot page's resume key, to the manifest — readers only see
   directories listed in the manifest, so a crash between 2 and 3 is
   invisible and a replay of the same batch id is idempotent (stage dir
   overwritten, manifest append deduped by batch id).

A record is committed only once its whole line, newline included, is in the
manifest. A crash in the middle of step 3 leaves a torn last line: readers
skip it, and the next append cuts it off first, so the batch is simply
replayed under its id.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class TransactionalDirSink:
    """Exactly-once directory sink: data files + progress manifest commit
    together, keyed by batch id (T2)."""

    root: str
    topic: str

    def __post_init__(self) -> None:
        os.makedirs(os.path.join(self.root, "_staging"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.jsonl")

    def _records(self) -> list[dict]:
        """Manifest records in append order — the replay-the-progress-topic
        view. Epochs are positional: a reset tombstone of kind K starts a
        new epoch FOR KIND K; records of kind K after it belong to the new
        epoch. No stored epoch field, so legacy manifests parse the same."""
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            text = f.read()
        # a last line without its newline is an append cut short by a crash
        return [json.loads(line) for line in text[: text.rfind("\n") + 1].splitlines()]

    def _append(self, *records: dict) -> None:
        """Append whole records, first cutting off a torn last line so that
        the new record is not glued onto it."""
        with open(self.manifest_path, "ab+") as f:
            f.seek(0)
            f.truncate(f.read().rfind(b"\n") + 1)
            f.write(b"".join(json.dumps(r).encode() + b"\n" for r in records))

    def committed_batches(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for rec in self._records():
            out[rec["batch_id"]] = rec  # last write wins (replay supersedes)
        return out

    def _epoch(self, kind: str = "change_rows") -> list[dict]:
        """Records of ``kind`` since its last reset tombstone, in append
        order. A reset tombstone (see ``reset_progress``) is a hard boundary
        for ITS kind only: a reset scoped to snapshot_rows must not wipe the
        change_rows resume point (per-(topic, kind) progress, like the
        reference)."""
        out: list[dict] = []
        for rec in self._records():
            if rec.get("kind") != kind:
                continue
            if rec.get("tombstone"):
                out.clear()
            else:
                out.append(rec)
        return out

    def last_progress(self, kind: str = "change_rows"):
        """T2 resume point: last committed position FOR THIS KIND (the
        compacted-progress-topic replay, progress_tracking.py:235-258).
        Batches without a position (snapshot pages) are skipped — snapshot
        progress is tracked by key, not index (constants.py:38-39)."""
        positions = [r["position"] for r in self._epoch(kind) if r["position"] is not None]
        return positions[-1] if positions else None

    def last_snapshot_key(self) -> tuple | None:
        """Snapshot resume point: the lowest key committed so far in the
        current epoch (pages run high → low), or None before the first page
        (tracked_tables.py:219-256)."""
        keys = [r["snapshot_key"] for r in self._epoch() if "snapshot_key" in r]
        return tuple(keys[-1]) if keys else None

    def _record(self, batch_id: int, position, snapshot_key=None, **extra) -> dict:
        """One manifest line; ``extra`` adds fields or overrides ``kind``."""
        rec = {
            "topic": self.topic,
            "kind": "change_rows",
            "position": position,
            "batch_id": batch_id,
            **extra,
        }
        if snapshot_key is not None:
            rec["snapshot_key"] = list(snapshot_key)
        return rec

    def _current_epoch_batch_ids(self, kind: str = "change_rows") -> set[int]:
        """Batch ids committed since the last reset tombstone of this kind —
        the idempotence scope. After a reset, a from-scratch rerun restarts
        at batch id 0; ids from BEFORE the tombstone must not shadow it
        (they'd silently drop every re-ingested batch), so the duplicate
        check is epoch-local."""
        return {r["batch_id"] for r in self._epoch(kind)}

    def commit_batch(self, batch: DataFrame, batch_id: int, position, snapshot_key=None) -> bool:
        """Idempotent commit: returns False (no-op) if this batch id is
        already committed in the current epoch — the crash-replay path of a
        writer whose ids are replayed, like Spark's foreachBatch.
        A replay of a pre-reset batch id is NOT a duplicate: it overwrites
        the old data directory and its manifest record supersedes the old
        one (last write wins), which is exactly re-ingest-from-scratch.
        ``snapshot_key`` is a snapshot page's resume key, recorded with it."""
        if batch_id in self._current_epoch_batch_ids("change_rows"):
            return False
        stage = os.path.join(self.root, "_staging", f"batch={batch_id}")
        final = os.path.join(self.root, "data", f"batch={batch_id}")
        if os.path.exists(stage):
            shutil.rmtree(stage)  # leftover from a crashed attempt
        batch.write.mode("overwrite").parquet(stage)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(stage, final)
        self._append(self._record(batch_id, position, snapshot_key))
        return True

    def commit_next(self, batch: DataFrame, position, snapshot_key=None) -> int:
        """Commit under the first batch id free in the current epoch and
        return it — for a writer that resumes from ``last_progress()`` and
        ``last_snapshot_key()`` rather than replaying ids. A batch whose
        commit crashed never reached the manifest, so its id is free again."""
        batch_id = max(self._current_epoch_batch_ids(), default=-1) + 1
        if not self.commit_batch(batch, batch_id, position, snapshot_key):
            raise RuntimeError(f"batch id {batch_id} was committed by another writer")
        return batch_id

    def reset_progress(self, kinds: tuple[str, ...] = ("change_rows",)) -> int:
        """progress_reset_tool analog (reference progress_reset_tool.py:12,
        progress_tracking.py reset_progress): append a *tombstone* progress
        record per (topic, kind) — position=None, a fresh batch-id epoch —
        so replaying the log yields no resume point and the next run starts
        from scratch. Data files are untouched (same as the reference: only
        the progress topic is rewritten) and other topics' sinks never see
        it. Returns the number of tombstones written."""
        existing = [r for r in self.committed_batches().values() if r["kind"] in kinds]
        if not existing:
            return 0
        next_id = max(r["batch_id"] for r in self.committed_batches().values()) + 1
        reset = [k for k in kinds if any(r["kind"] == k for r in existing)]
        self._append(
            *(
                self._record(next_id + i, None, kind=kind, tombstone=True)
                for i, kind in enumerate(reset)
            )
        )
        return len(reset)

    def read_committed(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Read ONLY manifest-listed data (uncommitted staging invisible).
        Records may carry an explicit ``path`` (compacted generations).

        ``as_of``: time travel — read the table as it was after batch id
        ``as_of`` committed (later batches invisible). Compaction collapses
        history, so travel only reaches past the last compacted generation."""
        batches = self.committed_batches()
        if as_of is not None:
            batches = {b: r for b, r in batches.items() if b <= as_of}
        # progress-reset tombstones carry no data directory
        batches = {b: r for b, r in batches.items() if not r.get("tombstone")}
        dirs = [
            os.path.join(self.root, "data", batches[b].get("path", f"batch={b}"))
            for b in sorted(batches)
        ]
        if not dirs:
            raise ValueError("no committed batches" + (f" at or before {as_of}" if as_of is not None else ""))
        return spark.read.parquet(*dirs)

    def compact(
        self,
        spark: SparkSession,
        key_cols: list[str],
        order_col: str = "change_seq",
        tombstone_col: str = "__tombstone",
    ) -> int:
        """Log compaction (the background process a compacted Kafka topic
        gets from the broker): collapse all committed batches to the last
        record per key, dropping keys whose final record is a tombstone, and
        atomically replace the batch directories with one compacted batch.

        Progress is preserved: the compacted batch takes the max committed
        batch id, position and snapshot key, so resume semantics are
        unchanged. Returns surviving row count. At scale this is the same
        one-shuffle ``max_by`` with the output range-partitioned by key."""
        from sqlserver_cdc_to_kafka_spark.operators.compaction import (
            last_value_per_key,
        )

        batches = self.committed_batches()
        if not batches:
            return 0
        df = self.read_committed(spark)
        # NULL order values are either snapshot rows (base state — oldest for
        # their key: every change logically follows the backfill, T7) or
        # tombstones (emitted right after their delete — newest for the key)
        ordk = F.struct(
            F.when(F.col(tombstone_col), F.lit(2**62))
            .otherwise(F.coalesce(F.col(order_col), F.lit(-1)))
            .alias("o"),
            F.col(tombstone_col).cast("int").alias("t"),
        )
        last = last_value_per_key(
            df.withColumn("__ordk", ordk), key_cols, "__ordk", drop_deleted=False
        )
        live = last.filter(~F.col(tombstone_col)).drop("__ordk")

        max_id = max(batches)
        # capture BEFORE rewriting manifest
        position, snapshot_key = self.last_progress(), self.last_snapshot_key()
        # crash-safe ordering: (1) write the compacted generation under a
        # fresh directory name, (2) atomically replace the manifest — THE
        # commit point: readers switch from the old dirs to the new one in
        # one rename, (3) only then delete the superseded dirs (a crash
        # leaves invisible orphans, never missing data).
        gen_dir = f"compacted={max_id}"
        stage = os.path.join(self.root, "_staging", gen_dir)
        final = os.path.join(self.root, "data", gen_dir)
        if os.path.exists(stage):
            shutil.rmtree(stage)
        live.write.mode("overwrite").parquet(stage)
        n = spark.read.parquet(stage).count()
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(stage, final)
        tmp_manifest = self.manifest_path + ".tmp"
        with open(tmp_manifest, "w") as f:
            f.write(json.dumps(self._record(max_id, position, snapshot_key, path=gen_dir)) + "\n")
        os.replace(tmp_manifest, self.manifest_path)  # commit point
        for b, rec in batches.items():
            d = os.path.join(self.root, "data", rec.get("path", f"batch={b}"))
            if rec.get("path") != gen_dir and os.path.exists(d):
                shutil.rmtree(d)
        return n


def reset_progress(sink: TransactionalDirSink) -> None:
    """The reference's progress_reset_tool (progress_reset_tool.py:12):
    wipe a topic's progress AND its committed data so the next run
    re-snapshots from scratch. Destructive by design; staging is cleared
    too so no phantom batch can resurrect."""
    for sub in ("data", "_staging"):
        d = os.path.join(sink.root, sub)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.makedirs(d, exist_ok=True)
    if os.path.exists(sink.manifest_path):
        os.remove(sink.manifest_path)
